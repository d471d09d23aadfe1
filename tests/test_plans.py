"""Physical-plan regression tests.

Correctness tests pin WHAT the operators return; these pin HOW Spark
executes them — the properties that make the 100 TB story true. If a
refactor silently introduces a shuffle into the k-NN scan or drops the
parquet filter pushdown, these fail even though results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from grape_vector_db_spark.operators import dedup, search, sparse, textanalysis
from grape_vector_db_spark.operators.search import query_vector_of


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_knn_is_shuffle_free(spark, emb):
    """J1/J9: single-query k-NN must be scan -> project -> TakeOrdered;
    zero Exchange (the per-partition-heap + driver-merge shape)."""
    qv = query_vector_of(emb, 0)
    plan = plan_of(search.knn(emb, qv, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_knn_batch_broadcasts_queries(spark, emb):
    """Batch k-NN must broadcast the query side (corpus scanned once, no
    corpus shuffle before scoring)."""
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = plan_of(search.knn_batch(emb, queries, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_filter_pushdown_reaches_parquet(spark):
    """P10/P11: simple predicates must appear as PushedFilters in the scan.

    Uses orders.parquet — the documents/embeddings fixtures are cached, and
    Spark substitutes a cached relation into ANY new plan over the same
    file, which replaces the parquet scan with InMemoryTableScan."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = plan_of(
        orders.where("o_orderstatus = 'F' AND o_totalprice >= 1000.0").select(
            "o_orderkey"
        )
    )
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderstatus,F)" in plan
    # the PushedFilters list is truncated in toString; the prefix is enough
    assert "GreaterThanOrEqual(" in plan


def test_column_pruning_reaches_parquet(spark):
    """P1: a two-column projection must not read the full schema."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = plan_of(orders.select("o_orderkey", "o_orderstatus"))
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>" in plan


def test_bm25_uses_broadcast_joins(spark, docs):
    """J4: the query-term and stats joins must be broadcast (no sort-merge
    join of the posting table against a 5-row query side)."""
    plan = plan_of(sparse.bm25_search(docs, "spark query join", k=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_doc_terms_tokenizes_each_document_once(spark, docs):
    """The interpreted tokenizer (filter(transform(split(...)))) appears
    once in doc_terms' optimized plan: an inner explode would let
    InferFiltersFromGenerate copy it into a pushed-down
    size(toks) > 0 AND isnotnull(toks) filter. The filter keeps the plan
    apart from doc_terms(docs) tables other tests cache."""
    plan = optimized_of(sparse.doc_terms(docs.where(F.col("doc_id") >= 0)))
    assert plan.count("filter(transform(split(") == 1, plan


def test_token_entropy_tokenizes_each_document_once(spark, docs):
    """token_entropy explodes with explode_outer + IS NOT NULL (the
    doc_terms form): a size filter or an inner explode copied the
    tokenizer into a pushed-down filter (3 copies)."""
    plan = optimized_of(
        textanalysis.token_entropy(docs.where(F.col("doc_id") >= 0))
    )
    assert plan.count("filter(transform(split(") == 1, plan


@pytest.mark.parametrize(
    "op",
    [
        lambda d: textanalysis.collocations(d, min_count=5, top_k=50),
        lambda d: dedup.dup_span_coverage(d, n=5, min_df=2),
        lambda d: dedup.trim_duplicate_spans(d, n=5, min_df=2),
    ],
    ids=["collocations", "dup_span_coverage", "trim_duplicate_spans"],
)
def test_ws_token_explodes_tokenize_once_per_branch(spark, docs, op):
    """Each explode branch of these operators holds the whitespace
    tokenizer once (explode_outer + IS NOT NULL): a size filter or an
    inner explode copied it into pushed-down filters (13, 9 and 8
    copies over 5, 5 and 4 explodes)."""
    plan = optimized_of(op(docs.where(F.col("doc_id") >= 0)))
    assert plan.count("filter(split(") == plan.count("Generate "), plan


def test_class_tfidf_tokenizes_each_document_once(spark, docs, monkeypatch):
    """class_tfidf_top_terms' per-class term counts (materialized by a
    localCheckpoint, so read from the checkpointed frame's plan) hold
    the tokenizer once: an inner explode copied it 3 times."""
    seen = []
    real = type(docs).localCheckpoint

    def spy(self, *a, **kw):
        seen.append(optimized_of(self))
        return real(self, *a, **kw)

    monkeypatch.setattr(type(docs), "localCheckpoint", spy)
    sparse.class_tfidf_top_terms(docs.where(F.col("doc_id") >= 0), top_k=5)
    assert [p.count("filter(transform(split(") for p in seen] == [1], seen


def test_point_lookup_pushdown(spark):
    # uncached table: see test_filter_pushdown_reaches_parquet
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = plan_of(orders.where(F.col("o_orderkey") == 42))
    assert "PushedFilters" in plan and "EqualTo(o_orderkey,42)" in plan


def test_ivf_flat_is_join_free(spark, emb):
    """J2/J3: literal-centroid IVF-Flat must be scan -> assign (narrow
    Arrow map) -> filter -> TakeOrdered. No join, no shuffle anywhere —
    the shape that holds at 100 TB."""
    from grape_vector_db_spark.operators import ann

    qv = query_vector_of(emb, 0)
    plan = plan_of(ann.ivf_flat_search(emb, ann.fixed_centroids(), qv, k=10, nprobe=3))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_ivf_search_never_broadcasts_candidates(spark, emb):
    """VERDICT r1 item 2 regression: the candidate-id side of ivf_search is
    ~corpus*nprobe/nlist rows and must carry NO broadcast hint — the only
    hinted broadcast is the nlist-row probe table. (Catalyst may still
    *choose* broadcast from actual sizes at test scale; the hint is what
    would force a driver OOM at 100 TB.)"""
    from grape_vector_db_spark.operators import ann

    qv = query_vector_of(emb, 0)
    cents, assigned = ann.ivf_build(emb, nlist=4, max_iter=1)
    plan = optimized_of(ann.ivf_search(emb, cents, assigned, qv, k=10, nprobe=2))
    assert plan.count("strategy=broadcast") == 1


def test_ivf_search_pruned_prunes_partitions(spark, emb, tmp_path):
    """The persisted-layout search must reach the probed clusters via
    parquet PARTITION pruning (directory skip), not a post-scan filter."""
    from grape_vector_db_spark.operators import ann

    qv = query_vector_of(emb, 0)
    cents, assigned = ann.ivf_build(emb, nlist=4, max_iter=1, include_vectors=True)
    ann.save_index(str(tmp_path / "idx"), cents, assigned)
    df = ann.ivf_search_pruned(spark, str(tmp_path / "idx"), qv, k=10, nprobe=2)
    plan = plan_of(df)
    assert "Join" not in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "cluster" in m.group(1)


def test_two_stage_keep_is_budget_capped(spark, emb):
    """VERDICT r1 item 4 regression: stage-1 keep must be
    max(k, min(ceil(total*ratio), budget)) — a fixed-size TakeOrdered,
    never a corpus-proportional global sort."""
    from grape_vector_db_spark.operators import quantization

    qv = query_vector_of(emb, 0)
    df = quantization.two_stage_search(
        emb, qv, k=5, rescore_ratio=1.0, rescore_budget=20
    )
    plan = plan_of(df)
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "Sort " not in plan  # no global sort fallback anywhere


def test_vocabulary_has_no_single_partition_exchange(spark, docs):
    """VERDICT r1 item 3 regression: dense term-id assignment must never
    funnel all distinct terms through one task."""
    terms = sparse.doc_terms(docs)
    plan = plan_of(sparse.vocabulary(terms))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # offsets ride a broadcast join


def test_vocabulary_balances_adversarial_shared_prefix(spark):
    """VERDICT r2 item 3 regression: a vocabulary whose terms ALL share one
    2-char prefix (the Zipfian 'th'/'co' shape) must still spread across
    multiple range buckets — and the ids must remain the exact global sort
    order regardless of where the sampled cut points landed."""
    words = [f"thword{i:05d}" for i in range(2000)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 20 : (i + 1) * 20])) for i in range(100)],
        "doc_id long, text string",
    )
    terms = sparse.doc_terms(docs)
    vocab = sparse.vocabulary(terms, num_buckets=8)
    rows = sorted((r["term"], r["term_id"]) for r in vocab.collect())
    assert [tid for _, tid in rows] == list(range(len(rows)))  # dense, sorted
    buckets = (
        terms.select("term").distinct()
        .withColumn("_b", F.substring("term", 1, 2)).select("_b").distinct().count()
    )
    assert buckets == 1  # the fixture really is prefix-degenerate
    plan = plan_of(vocab)
    assert "Exchange SinglePartition" not in plan


def test_hydrate_broadcasts_result_side(spark, docs, emb):
    qv = query_vector_of(emb, 0)
    res = search.knn(emb, qv, k=5).withColumnRenamed("vec_id", "doc_id")
    plan = plan_of(search.hydrate(res, docs, columns=["lang"]))
    assert "BroadcastHashJoin" in plan


def test_asof_join_is_single_shuffle_no_join(spark):
    """The union-trick as-of join must compile to union -> one Exchange on
    the key -> window. Any Join node means the plan regressed to a range
    join (BroadcastNestedLoopJoin at scale)."""
    from grape_vector_db_spark.operators import asof

    left = spark.range(100).selectExpr("id AS event_id", "id * 2 AS ts", "id % 5 AS k")
    right = spark.range(50).selectExpr(
        "id + 1000 AS event_id", "id * 3 AS ts", "id % 5 AS k", "id * 1.0 AS value"
    )
    plan = plan_of(asof.asof_join(left, right, on="ts", by=["k"], right_id="event_id"))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # dedup + carry windows share the key


def test_interval_join_is_hash_join(spark):
    """The bucketed interval join must be an equi-join (hash/sort-merge),
    never a BroadcastNestedLoopJoin range predicate."""
    from grape_vector_db_spark.operators import asof

    left = spark.range(100).selectExpr("id AS pid", "id * 7 AS ts", "id % 3 AS k")
    right = spark.range(100).selectExpr("id AS cid", "id * 5 AS ts", "id % 3 AS k")
    plan = plan_of(asof.interval_join(left, right, window=50, on="ts", by=["k"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_geo_pairs_is_hash_join(spark):
    """The grid-bucketed spatial self-join must be an equi-join — no
    CartesianProduct / BroadcastNestedLoopJoin all-pairs fallback."""
    from grape_vector_db_spark.operators import geo

    df = spark.range(200).selectExpr(
        "id", "(id % 90) * 1.0 AS lat", "(id % 180) * 1.0 AS lon"
    )
    plan = plan_of(geo.distance_pairs(df, 50.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_uniform_sample_n_is_take_ordered(spark, docs):
    """Fixed-size hash sampling must be a TakeOrdered (per-partition heap),
    never a global sort or shuffle."""
    from grape_vector_db_spark.operators import sampling

    plan = plan_of(sampling.uniform_sample_n(docs, 10, "doc_id", seed=5))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_c4_and_pii_are_shuffle_free(spark, docs):
    """Curation narrow maps (line filter, PII scrub) must be pure
    scan -> project: zero Exchange."""
    from grape_vector_db_spark.operators import curation

    assert "Exchange" not in plan_of(curation.c4_line_filter(docs))
    assert "Exchange" not in plan_of(curation.pii_redact(docs))


def test_strip_boilerplate_broadcasts_frequent_lines(spark, docs):
    """The boilerplate anti-join must broadcast the (threshold-compacted)
    frequent-line set — boilerplate lines are exactly the hot keys a
    shuffled anti-join would skew on."""
    from grape_vector_db_spark.operators import curation

    plan = plan_of(curation.strip_boilerplate(docs, min_docs=2))
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastExchange" in plan
    )


def test_incremental_probe_bounded_shuffles_no_cartesian(spark):
    """The batch-vs-corpus probe must stay a keyed equi-join pipeline:
    no CartesianProduct / nested-loop join anywhere, and no
    single-partition exchange — the properties that keep the daily
    delta probe linear in index size at 100 TB."""
    from grape_vector_db_spark.plans.audit import audit_plan

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body text") for i in range(20)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "corpus document number 3 body text")],
        "doc_id long, text string",
    )
    pairs = dedup.incremental_neardup_pairs(batch, corpus, threshold=0.2)
    a = audit_plan(pairs)
    assert a.cartesian_products == 0 and a.nested_loop_joins == 0
    assert a.single_partition_exchanges == 0


def test_winnow_fingerprints_is_shuffle_free(spark):
    """Winnowing must stay a narrow per-row expression chain: the k-gram
    hash and window-min selection never justify an Exchange."""
    df = spark.createDataFrame(
        [(1, "some document text for winnowing")], "doc_id long, text string"
    )
    plan = plan_of(dedup.winnow_fingerprints(df, k=5, w=4))
    assert "Exchange" not in plan


def test_bpe_segment_is_shuffle_free(spark):
    """Applying trained BPE merges is chained replaces — zero Exchange
    regardless of merge-list length."""
    df = spark.createDataFrame(
        [(1, "low lower lowest")], "doc_id long, text string"
    )
    merges = [(0, "l", "o", 3), (1, "lo", "w", 3)]
    plan = plan_of(textanalysis.bpe_segment_counts(df, merges))
    assert "Exchange" not in plan


def test_hard_negatives_broadcasts_anchors(spark, emb):
    """Anchor set must ride a broadcast; the corpus is scanned once."""
    from grape_vector_db_spark.operators import search as s

    anchors = emb.where(F.col("vec_id") < 3)
    plan = plan_of(s.hard_negatives(emb, anchors, k=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_matryoshka_stage1_is_take_ordered_with_broadcast_rescore(spark, emb):
    """MRL serving shape: prefix coarse scan must end in a bounded
    TakeOrdered (no global sort, no shuffle) and the rescore join must
    broadcast the candidate side."""
    from grape_vector_db_spark.operators.search import (
        matryoshka_search,
        query_vector_of,
    )

    qv = query_vector_of(emb, 0)
    plan = plan_of(matryoshka_search(emb, qv, dims=16, k=5, rescore=20))
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_filtered_knn_pushes_label_filter_to_scan(spark):
    """Filtered vector search: the metadata predicate must reach the
    parquet scan (PushedFilters), not sit above the cosine projection."""
    from pyspark.sql import functions as F

    from grape_vector_db_spark.operators.search import knn, query_vector_of

    # sf0.01, NOT sf0.001: the session-scoped emb fixture caches the
    # sf0.001 read, and Spark's CacheManager would substitute the
    # InMemoryRelation for any matching plan — hiding the scan pushdown
    # this test pins.
    fresh = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = query_vector_of(fresh, 0)
    df = knn(fresh.where(F.col("label") == 3), qv, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(label,3)" in plan  # inside PushedFilters of the scan


def test_normalize_text_is_shuffle_free(spark):
    """Unicode normalization is ONE Arrow-batched pandas UDF in a narrow
    map — no Exchange, exactly one ArrowEvalPython stage."""
    from grape_vector_db_spark.operators import curation

    df = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    plan = plan_of(curation.normalize_text(df))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_knn_graph_broadcasts_block_pairs(spark, emb):
    """The kNN-graph fan-out must broadcast the (tiny) block-pair table,
    never shuffle-join it, and the final per-src top-k must be a
    PARTITIONED window (no single-partition Exchange)."""
    from grape_vector_db_spark.operators import ann

    sub = emb.where(F.col("vec_id") < 64)  # limit() would inject its own
    plan = plan_of(ann.knn_graph(sub, k=3, n_blocks=4))  # SinglePartition
    assert "BroadcastExchange" in plan
    assert "Exchange SinglePartition" not in plan
    # the per-src top-k is pushed below the shuffle (partial group limit),
    # so each task ships at most k rows per src
    assert "WindowGroupLimit" in plan


def test_knn_graph_single_block_is_exchange_free(spark, emb):
    """A corpus that fits one block runs as coalesce(1) + one matmul
    task + the per-src window — the only Exchange is the window's hash
    partitioning."""
    from grape_vector_db_spark.operators import ann
    from grape_vector_db_spark.plans.audit import audit_plan

    a = audit_plan(ann.knn_graph(emb.limit(32), k=3, n_blocks=1))
    assert a.shuffles <= 1


def test_sessionize_single_exchange(spark):
    """The gaps-and-islands rollup must reuse the window's hash
    partitioning on user_id for the (user, session) groupBy — exactly
    ONE Exchange in the whole plan."""
    from grape_vector_db_spark.operators import sequence

    ev = spark.createDataFrame(
        [(1, 1, 0, "a", 1.0)],
        "event_id long, user_id long, us long, event_type string, value double",
    ).select(
        "event_id", "user_id", F.timestamp_micros("us").alias("ts"),
        "event_type", "value",
    )
    plan = plan_of(sequence.sessionize(ev))
    assert plan.count("Exchange") == 1


def test_logreg_score_is_shuffle_free(spark):
    """Scoring with a trained model is a pure narrow fold of the
    broadcast-literal weight array — zero Exchange (which is also what
    makes it run unchanged on a readStream)."""
    from grape_vector_db_spark.operators import classifier

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "doc_id long, features array<double>"
    )
    plan = plan_of(classifier.logreg_score(df, [0.5, -0.5], 0.1))
    assert "Exchange" not in plan


def test_code_signals_shuffle_free(spark, docs):
    """code_signals is a pure narrow map: zero Exchange, rides the scan."""
    from grape_vector_db_spark.operators.textanalysis import code_signals

    assert "Exchange" not in plan_of(code_signals(docs))


def test_bloom_probe_broadcasts_bits(spark, docs):
    """The bloom probe must broadcast the bit table — the corpus side
    never shuffles before the per-doc count."""
    from grape_vector_db_spark.operators import sketches

    bits = sketches.bloom_bits(
        docs.where(F.col("source") == "src0"), F.col("text"), 2048, 3
    )
    plan = plan_of(
        sketches.bloom_probe(docs, F.col("text"), bits, 2048, 3)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rendezvous_shard_shuffle_free(spark, docs):
    """Placement is a narrow expression: no Exchange before the row set."""
    from grape_vector_db_spark.sources.tables import rendezvous_shard

    plan = plan_of(docs.select(rendezvous_shard("doc_id", 8).alias("s")))
    assert "Exchange" not in plan


def test_band_join_is_single_equi_join(spark):
    """value_band_self_join must plan as ONE hash equi-join on the bucket
    key — no BroadcastNestedLoopJoin / CartesianProduct (the naive theta
    join plan) anywhere."""
    from grape_vector_db_spark.operators.asof import value_band_self_join

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 0.013).alias("v")
    )
    plan = plan_of(value_band_self_join(df, "v", 0.05, "id"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 1


def test_weighted_sample_global_is_take_ordered(spark, docs):
    """Global A-ES top-k must be engine TakeOrdered (per-partition heap),
    not a global sort."""
    from grape_vector_db_spark.operators import sampling

    plan = plan_of(
        sampling.weighted_sample_topk(docs, F.col("n_chars"), k=5, seed=1)
    )
    assert "TakeOrderedAndProject" in plan


def test_variety_uses_broadcast_anti_join(spark):
    """part_supplier_variety's NOT-IN must be a broadcast anti/hash join,
    never a nested-loop NOT-IN rewrite."""
    import __spark_entry__ as entrymod

    df = entrymod.q_part_supplier_variety(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_order_priority_check_is_semi_join(spark):
    """Q4 shape: the EXISTS must decorrelate to ONE LeftSemi hash join
    (equi on orderkey, date inequality as residual) — never a
    nested-loop or a duplicate-then-distinct rewrite."""
    import __spark_entry__ as entrymod

    plan = plan_of(
        entrymod.q_order_priority_check(spark, "/root/testdata/sf0.001")
    )
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Distinct" not in plan and "HashAggregate(keys=[o_orderkey" not in plan


def test_product_profit_broadcasts_all_dims(spark):
    """Q9 shape: part/supplier/nation broadcast; the only shuffle joins
    are lineitem x orders (big x big on orderkey)."""
    import __spark_entry__ as entrymod

    plan = plan_of(entrymod.q_product_profit(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "CartesianProduct" not in plan


def test_important_parts_single_scan(spark):
    """Q11 shape: ONE lineitem scan — the global-total window reads the
    part-level aggregate, not the fact table again."""
    import __spark_entry__ as entrymod

    plan = plan_of(entrymod.q_important_parts(spark, "/root/testdata/sf0.001"))
    assert plan.count("lineitem.parquet") == 1


def test_disjunctive_revenue_broadcasts_pruned_part(spark):
    """Q19 shape: the hand-factored brand/size containment filter must
    reach the part scan (PushedFilters) and the join must be a
    broadcast hash join on partkey."""
    import __spark_entry__ as entrymod

    plan = plan_of(
        entrymod.q_disjunctive_revenue(spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in plan
    assert "In(p_brand" in plan


def test_ivf_add_is_shuffle_free(spark, emb):
    """Incremental index insert (ivf_add) must be ONE narrow Arrow pass:
    the frozen centroids ride the task closure, so the plan has zero
    Exchange and zero join — the O(batch) shape that makes per-micro-batch
    index maintenance viable at 100 TB."""
    from grape_vector_db_spark.operators import ann

    cents, _ = ann.ivf_build(emb.limit(200), nlist=4, max_iter=1)
    plan = plan_of(ann.ivf_add(emb.where(F.col("vec_id") < 50), cents))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pq_add_is_shuffle_free(spark, emb):
    """pq_add encodes against closure-resident codebooks: zero Exchange,
    zero join."""
    from grape_vector_db_spark.operators import ann

    cbs, _ = ann.pq_build(emb.limit(200), m=8, k=16, max_iter=1)
    plan = plan_of(ann.pq_add(emb.where(F.col("vec_id") < 50), cbs))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_knn_graph_add_single_window_shuffle_no_cartesian(spark, emb):
    """Incremental graph maintenance: the scoring pass is ONE Arrow scan
    of the corpus with the batch matrix in the task closure (no join, no
    cartesian product), the anti-join on the stale batch srcs broadcasts,
    and the only width-changing exchange feeds the per-src top-k window
    — the O(corpus scan + n*k window) shape."""
    from grape_vector_db_spark.operators import ann

    base = emb.where(F.col("vec_id") % 7 != 0)
    edges = ann.knn_graph(base, k=4)
    grown = ann.knn_graph_add(
        edges, emb, emb.where(F.col("vec_id") % 7 == 0).select("vec_id"), 4
    )
    plan = plan_of(grown)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # scoring is mapInPandas (ArrowEvalPython / MapInPandas node), not a join
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_payload_range_knn_pushes_value_num_and_prunes(spark):
    """The range posting read: value_num bounds reach PushedFilters (the
    row-group skip), the field equality is a PartitionFilter (directory
    skip), and the final cut is the zero-shuffle TakeOrdered knn."""
    import __spark_entry__ as em

    plan = plan_of(em.queries()["payload_range_knn"](spark, SF_DIR))
    assert "GreaterThanOrEqual(value_num,200.0)" in plan
    assert "LessThanOrEqual(value_num,400.0)" in plan
    assert "PartitionFilters" in plan and "field" in plan
    assert "documents" not in plan
    assert "TakeOrderedAndProject" in plan


def test_scroll_page_pushes_cursor(spark):
    """Deep pagination must be O(page): the id>cursor predicate reaches
    the parquet scan, no global sort of the skipped prefix materializes
    more than the page."""
    import __spark_entry__ as em

    plan = plan_of(em.queries()["scroll_page"](spark, SF_DIR))
    assert "GreaterThan(doc_id,100)" in plan
    assert "TakeOrderedAndProject" in plan


def test_cluster_quota_sample_assignment_is_joinless(spark):
    """Assignment rides the task closure (MapInPandas), never a join;
    the only exchange feeds the per-cluster window quota."""
    import __spark_entry__ as em

    plan = plan_of(em.queries()["cluster_quota_sample"](spark, SF_DIR))
    assert "Join" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_audit_counts_every_python_boundary(spark, emb):
    """The RP kernel is a mapInArrow stage: the plan audit (and the
    profiler's plan_stats, which reads through it) must count it — a
    `python_evals == 0` assertion used to pass on this plan."""
    import importlib.util
    import os

    from grape_vector_db_spark.operators import ann
    from grape_vector_db_spark.plans.audit import audit_plan

    rp = ann.rp_project(emb, n_out=8, dim=64)
    assert "MapInArrow" in plan_of(rp)
    assert audit_plan(rp).python_evals == 1
    assert audit_plan(emb.select("vec_id")).python_evals == 0
    assert audit_plan(emb.mapInPandas(lambda it: it, emb.schema)).python_evals == 1
    grouped = emb.groupBy("label").applyInPandas(lambda d: d, emb.schema)
    assert audit_plan(grouped).python_evals == 1

    tool = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "profile_queries.py",
    )
    spec = importlib.util.spec_from_file_location("profile_queries", tool)
    prof = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(prof)
    assert prof.plan_stats(rp)["pyeval"] == 1
    assert prof.plan_stats(grouped)["exchanges"] == audit_plan(grouped).shuffles
