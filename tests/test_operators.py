"""Operator-level behavior tests on sf0.001 (oracle parity is covered by
tools/check_correctness.py; these assert semantics and invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from grape_vector_db_spark.operators import (
    ann,
    dedup,
    filters,
    geo,
    quantization,
    search,
    sparse,
    textanalysis,
    topk,
)


def test_knn_self_is_top(spark, emb):
    qv = search.query_vector_of(emb, 7)
    top = search.knn(emb, qv, k=3).head()
    assert top["vec_id"] == 7
    assert abs(top["score"] - 1.0) < 1e-6


def test_knn_threshold_filters(spark, emb):
    qv = search.query_vector_of(emb, 0)
    rows = search.knn(emb, qv, k=100, threshold=0.3).collect()
    assert all(r["score"] >= 0.3 for r in rows)


def test_knn_batch_matches_single(spark, emb):
    qv = search.query_vector_of(emb, 3)
    single = search.knn(emb, qv, k=5).collect()
    queries = emb.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = search.knn_batch(emb, queries, k=5).collect()
    assert [r["id"] for r in batch] == [r["vec_id"] for r in single]


def test_two_stage_recall_vs_exact(spark, emb):
    """Hamming prefilter at ratio 0.2 should recover most of the exact top-10
    (the reference reports Recall@5=17% WITHOUT rescoring; two-stage should
    be far better)."""
    qv = search.query_vector_of(emb, 0)
    exact = {r["vec_id"] for r in search.knn(emb, qv, k=10).collect()}
    two = {
        r["vec_id"]
        for r in quantization.two_stage_search(emb, qv, k=10, rescore_ratio=0.2).collect()
    }
    assert len(exact & two) >= 5


def test_ivf_recall(spark, emb):
    qv = search.query_vector_of(emb, 0)
    exact = [r["vec_id"] for r in search.knn(emb, qv, k=5).collect()]
    cents, assigned = ann.ivf_build(emb, nlist=4, max_iter=3)
    assert cents.count() == 4
    assert assigned.count() == emb.count()
    res = [
        r["vec_id"]
        for r in ann.ivf_search(emb, cents, assigned, qv, k=5, nprobe=2).collect()
    ]
    # nprobe=2 of 4 clusters: expect at least the self-match plus overlap
    assert res[0] == exact[0]
    assert len(set(res) & set(exact)) >= 2


def test_ivf_add_grown_equals_built(spark, emb):
    """The insert invariant: an index grown by ivf_add batches must be
    row-identical to the bulk ivf_build given the same frozen centroids
    (VectorIndex::add_vectors contract)."""
    cents, built = ann.ivf_build(emb, nlist=4, max_iter=3)
    delta = emb.where(F.col("vec_id") % 3 == 1)
    rest = built.join(
        delta.select(F.col("vec_id").alias("id")), "id", "left_anti"
    )
    grown = rest.unionByName(ann.ivf_add(delta, cents))
    assert grown.count() == built.count()
    assert grown.exceptAll(built).count() == 0


def test_ivf_add_replicas_and_remove(spark, emb):
    """replicas=2 emits two posting rows per inserted vector;
    ivf_remove drops exactly the requested ids' rows."""
    cents, built = ann.ivf_build(emb, nlist=4, max_iter=2, replicas=2)
    delta = emb.where(F.col("vec_id") % 5 == 2)
    added = ann.ivf_add(delta, cents, replicas=2)
    assert added.count() == delta.count() * 2
    pruned = ann.ivf_remove(built, delta.select("vec_id"))
    assert pruned.count() == built.count() - delta.count() * 2
    assert pruned.where(F.col("id") % 5 == 2).count() == 0


def test_pq_and_ivfpq_add_grown_equals_built(spark, emb):
    """Encoding new batches with frozen codebooks (pq_add / ivfpq_add)
    must reproduce the bulk build's code rows exactly."""
    delta = emb.where(F.col("vec_id") % 4 == 1)
    d_ids = delta.select(F.col("vec_id").alias("id"))

    cbs, built = ann.pq_build(emb, m=8, k=16, max_iter=2)
    grown = built.join(d_ids, "id", "left_anti").unionByName(
        ann.pq_add(delta, cbs)
    )
    assert grown.count() == built.count()
    assert grown.exceptAll(built).count() == 0

    cents, rcbs, rcodes = ann.ivfpq_build(emb, nlist=4, m=8, k=16, max_iter=2)
    rgrown = rcodes.join(d_ids, "id", "left_anti").unionByName(
        ann.ivfpq_add(delta, cents, rcbs)
    )
    assert rgrown.count() == rcodes.count()
    assert rgrown.exceptAll(rcodes).count() == 0


def test_ivf_replicated_search_dedups(spark, emb):
    """SPANN-style replicas store an id in several cells; searches must
    return each id at most once and recall must not regress."""
    qv = search.query_vector_of(emb, 0)
    cents, assigned = ann.ivf_build(emb, nlist=4, max_iter=2, replicas=2)
    assert assigned.count() == emb.count() * 2
    res = ann.ivf_search(emb, cents, assigned, qv, k=10, nprobe=4).collect()
    ids = [r["vec_id"] for r in res]
    assert len(ids) == 10 and len(set(ids)) == 10
    assert ids[0] == 0  # full probe: self-match survives


def test_ivfpq_replicated_search_dedups(spark, emb):
    qv = search.query_vector_of(emb, 0)
    cents, cbs, codes = ann.ivfpq_build(
        emb, nlist=4, m=8, k=16, max_iter=2, replicas=2
    )
    res = ann.ivfpq_search(
        emb, cents, cbs, codes, qv, k=10, nprobe=4, rescore=50
    ).collect()
    ids = [r["vec_id"] for r in res]
    assert len(ids) == 10 and len(set(ids)) == 10
    assert ids[0] == 0


def test_pq_recall(spark, emb):
    qv = search.query_vector_of(emb, 0)
    exact = [r["vec_id"] for r in search.knn(emb, qv, k=10).collect()]
    cbs, codes = ann.pq_build(emb, m=8, k=64, max_iter=3)
    assert len(cbs) == 8 and len(cbs[0]) == 64 and len(cbs[0][0]) == 8
    res = [
        r["vec_id"]
        for r in ann.pq_search(emb, cbs, codes, qv, k=10, rescore=50).collect()
    ]
    assert res[0] == exact[0]  # self-match survives quantization
    assert len(set(res) & set(exact)) >= 5  # recall@10 >= 0.5


def test_ivfpq_residual_recall(spark, emb):
    qv = search.query_vector_of(emb, 0)
    exact = [r["vec_id"] for r in search.knn(emb, qv, k=10).collect()]
    cents, cbs, codes = ann.ivfpq_build(emb, nlist=4, m=8, k=16, max_iter=2)
    # full probe: residual-PQ candidates cover every cell
    res = [
        r["vec_id"]
        for r in ann.ivfpq_search(
            emb, cents, cbs, codes, qv, k=10, nprobe=4, rescore=50
        ).collect()
    ]
    assert res[0] == exact[0]
    assert len(set(res) & set(exact)) >= 5
    # partial probe prunes cells but keeps the self-match's cell
    res2 = [
        r["vec_id"]
        for r in ann.ivfpq_search(
            emb, cents, cbs, codes, qv, k=10, nprobe=2, rescore=50
        ).collect()
    ]
    assert res2[0] == exact[0]


def test_filter_tree_equivalence(spark, docs):
    ast = {
        "must": [{"type": "range", "field": "n_chars", "gte": 100, "lte": 300}],
        "must_not": [{"type": "equals", "field": "lang", "value": "en"}],
    }
    got = docs.where(filters.filter_to_column(ast)).count()
    want = docs.where("n_chars >= 100 AND n_chars <= 300 AND NOT lang = 'en'").count()
    assert got == want > 0


def test_filter_in_like_null(spark, docs):
    c = filters.condition_to_column({"type": "in", "field": "lang", "values": ["en", "de"]})
    assert docs.where(c).count() == docs.where("lang IN ('en','de')").count()
    c = filters.condition_to_column({"type": "like", "field": "source", "pattern": "src1%"})
    assert docs.where(c).count() == docs.where("source LIKE 'src1%'").count()


def test_dedup_minhash_superset_check(spark, docs):
    """LSH candidates verified by exact jaccard must be a subset of the
    exhaustive n-gram jaccard pairs at the same threshold."""
    lsh = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    full = {
        (r["a"], r["b"]) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert lsh <= full
    if full:
        # banded LSH at 16/4 catches most pairs above threshold
        assert len(lsh) >= len(full) * 0.5


def test_ngram_hot_shingle_cap_bounds_pairs(spark):
    """Skew regression (VERDICT r1 item 5): one stop-shingle shared by every
    doc must not make the self-join quadratic. With the cap, docs that only
    share the hot shingle produce NO candidate pair; genuinely similar docs
    (sharing discriminative shingles) still match."""
    rows = [(i, f"quick brown fox unique{i} word{i} token{i}") for i in range(40)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # 'quick brown fox' appears in all 40 filler docs -> df=40 > cap=10
    capped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.1, max_shingle_df=10)
    got = {(r["a"], r["b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), "hot-shingle-only pairs must be dropped"
    # uncapped: the hot shingle alone creates 40*39/2 candidate pairs
    uncapped = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.1)
    assert uncapped.count() > len(got)


def _all_pairs_cosine(emb, threshold):
    """Driver-side all-pairs reference: one numpy dot per pair, cosine
    rounded to 6 dp, pairs (a < b) at or above ``threshold``."""
    import numpy as np

    rows = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    out = []
    for i, (a, x) in enumerate(rows):
        for b, y in rows[i + 1:]:
            cos = round(float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y))), 6)
            if cos >= threshold:
                out.append((a, b, cos))
    return sorted(out)


def test_embedding_neardup_gemm_matches_exact(spark, emb):
    """Block-GEMM exact all-pairs must be pair-identical to an all-pairs
    reference — including pairs whose smaller id lives in the HIGHER
    block (n_blocks=3 forces cross-block id inversions) — and to its own
    single-block path."""
    def gemm(n_blocks):
        return sorted(
            (r["a"], r["b"], r["cosine"])
            for r in dedup.embedding_neardup_pairs_gemm(
                emb, threshold=0.3, n_blocks=n_blocks
            ).collect()
        )

    blocked = gemm(3)
    assert blocked == _all_pairs_cosine(emb, 0.3) and len(blocked) > 0
    assert gemm(1) == blocked


def test_embedding_neardup_lsh_subset_of_exact(spark, emb):
    """LSH-prefiltered pairs are a subset of the exact pairs (same
    threshold, same rounded cosine values) and non-empty at a low
    threshold; every reported pair shares a bucket."""
    exact = {
        (r["a"], r["b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs_gemm(emb, threshold=0.2).collect()
    }
    lsh = {
        (r["a"], r["b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs_lsh(
            emb, threshold=0.2, n_planes=4
        ).collect()
    }
    assert 0 < len(lsh) <= len(exact)
    assert all(exact.get(k) == v for k, v in lsh.items())


def test_incremental_neardup_probes_corpus_index(spark):
    """A batch doc near-identical to a corpus doc is caught by probing
    the corpus's shingle+signature index; a novel doc is admitted. The
    pair set must equal the batched union run restricted to
    batch-x-corpus pairs (same hashes, same S-curve)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus text about databases and spark")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(101, base + " extra"), (102, "novel fresh content nothing shares this")],
        "doc_id long, text string",
    )
    csh = dedup.shingles(corpus, 3)
    csig = dedup.minhash_signatures(corpus, 16, 3, shingles_df=csh)
    pairs = {
        (r["batch_id"], r["corpus_id"]): r["jaccard"]
        for r in dedup.incremental_neardup_pairs(
            batch, threshold=0.2,
            corpus_shingles_df=csh, corpus_signatures_df=csig,
        ).collect()
    }
    assert (101, 1) in pairs and pairs[(101, 1)] > 0.5
    assert all(b != 102 for b, _ in pairs)
    # equivalence with the batched union run
    union_pairs = {
        (r["b"], r["a"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            corpus.unionByName(batch), threshold=0.2
        ).collect()
        if r["b"] >= 101 and r["a"] < 101
    }
    assert pairs == union_pairs
    verdict = {
        r["doc_id"]: r
        for r in dedup.incremental_admission(
            batch, threshold=0.2,
            corpus_shingles_df=csh, corpus_signatures_df=csig,
        ).collect()
    }
    assert not verdict[101]["admit"] and verdict[101]["n_dups"] == 1
    assert verdict[102]["admit"] and verdict[102]["max_jaccard"] == 0.0


def test_incremental_embedding_neardup_equals_union_cross_pairs(spark, emb):
    """The batch-vs-corpus embedding probe must equal the batched
    union LSH run restricted to cross pairs (same planes, same verify),
    and auto-size planes from the corpus when n_planes is omitted."""
    is_batch = F.col("vec_id") % 7 == 0
    batch, corpus = emb.where(is_batch), emb.where(~is_batch)
    inc = {
        (r["batch_id"], r["corpus_id"]): r["cosine"]
        for r in dedup.incremental_embedding_neardup(
            batch, corpus, threshold=0.2, n_planes=4, n_tables=4
        ).collect()
    }
    assert inc
    union = {}
    for r in dedup.embedding_neardup_pairs_lsh(
        emb, threshold=0.2, n_planes=4, n_tables=4
    ).collect():
        a, b = r["a"], r["b"]
        if a % 7 == 0 and b % 7 != 0:
            union[(a, b)] = r["cosine"]
        elif b % 7 == 0 and a % 7 != 0:
            union[(b, a)] = r["cosine"]
    assert inc == union
    auto = dedup.incremental_embedding_neardup(
        batch, corpus, threshold=0.2, known_count=corpus.count()
    ).collect()
    assert len(auto) > 0


def test_incremental_neardup_bucket_cap_drops_hot_corpus_buckets(spark):
    """A templated corpus piles into one bucket per band; with
    bucket_cap the probe skips those buckets (bounded candidates, pairs
    lost by design), without it the full pair set returns."""
    tmpl = "identical templated corpus document body repeated verbatim"
    corpus = spark.createDataFrame(
        [(i, tmpl) for i in range(30)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, tmpl)], "doc_id long, text string"
    )
    csh = dedup.shingles(corpus, 3)
    csig = dedup.minhash_signatures(corpus, 16, 3, shingles_df=csh)
    full = dedup.incremental_neardup_pairs(
        batch, threshold=0.5,
        corpus_shingles_df=csh, corpus_signatures_df=csig,
    ).count()
    capped = dedup.incremental_neardup_pairs(
        batch, threshold=0.5,
        corpus_shingles_df=csh, corpus_signatures_df=csig,
        bucket_cap=10,
    ).count()
    assert full == 30 and capped == 0


def test_incremental_neardup_requires_corpus_inputs(spark):
    import pytest

    batch = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="corpus"):
        dedup.incremental_neardup_pairs(batch)


def test_incremental_embedding_prebuilt_index_demands_explicit_planes(
    spark, emb
):
    """Auto-sizing against a prebuilt bucket index could hash the batch
    with a different plane family than the index was cut with — the
    call must refuse rather than silently join mismatched buckets."""
    import pytest

    from grape_vector_db_spark.operators import ann

    idx = ann.random_projection_tables(emb, n_planes=4, n_tables=4)
    with pytest.raises(ValueError, match="n_planes"):
        dedup.incremental_embedding_neardup(
            emb, emb, corpus_buckets_df=idx
        )
    # explicit p matching the index works
    out = dedup.incremental_embedding_neardup(
        emb.where("vec_id % 7 = 0"), emb.where("vec_id % 7 != 0"),
        threshold=0.2, n_planes=4, n_tables=4,
        corpus_buckets_df=ann.random_projection_tables(
            emb.where("vec_id % 7 != 0"), n_planes=4, n_tables=4
        ),
    )
    assert out.count() > 0


def test_lsh_autosize_planes_pins():
    """The sizing rule the embedding_neardup_pairs_lsh docstring states
    (expected bucket n/2^p <= LSH_TARGET_BUCKET = 500, i.e. a CONSTANT
    per-vector candidate multiplier) is enforced, not advisory: p floors
    at 4 on tiny corpora, 1e4 -> 5, 1e7 -> 15, 1e9 -> 21. The sf1 scale
    run pinned the old 1e4 target as super-linear (199 s at 20k rows)."""
    assert dedup.lsh_autosize_planes(10_000) == 5
    assert dedup.lsh_autosize_planes(10_000_000) == 15
    assert dedup.lsh_autosize_planes(1_000_000_000) == 21
    assert dedup.lsh_autosize_planes(1_000) == 4  # floor
    assert dedup.lsh_autosize_planes(0) == 4
    # cap: absurd n never asks for more than 30 planes
    assert dedup.lsh_autosize_planes(10**18) == 30


def test_embedding_neardup_lsh_autosizes_from_known_count(spark, emb):
    """n_planes=None derives p from the corpus (known_count skips the
    count job) and still returns a subset of the exact pairs; beyond the
    auto-cap threshold a finite bucket_cap is applied by default."""
    exact = {
        (r["a"], r["b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs_gemm(emb, threshold=0.2).collect()
    }
    auto = {
        (r["a"], r["b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs_lsh(
            emb, threshold=0.2, known_count=emb.count()
        ).collect()
    }
    assert 0 < len(auto) <= len(exact)
    assert all(exact.get(k) == v for k, v in auto.items())


def test_margin_mine_hand_computed_and_hub_suppressed(spark):
    """Orthogonal pairs mine each other with margin 1/((1+1)/2)... and a
    hub vector moderately close to everything loses to the true match
    once the neighborhood means normalize it (the Artetxe-Schwenk
    point)."""
    x = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    y = spark.createDataFrame(
        [(11, [1.0, 0.0]), (12, [0.0, 1.0]), (13, [0.8, 0.6])],
        ["vec_id", "embedding"],
    )
    out = {
        r["xid"]: r
        for r in search.margin_mine(x, y, k=2, margin_threshold=0.0).collect()
    }
    # true matches win despite the hub y13 scoring 0.8/0.6 everywhere
    assert out[1]["yid"] == 11 and out[2]["yid"] == 12
    assert out[1]["cosine"] == 1.0 and out[2]["cosine"] == 1.0
    # margins exceed 1: the pair is closer than either neighborhood mean
    assert out[1]["margin"] > 1.0 and out[2]["margin"] > 1.0
    # hand check x1: meanK_x = avg(1.0, 0.8) = 0.9; meanK_y(11) =
    # avg(1.0, 0.0) = 0.5; margin = 1 / 0.7
    assert abs(out[1]["margin"] - round(1.0 / 0.7, 6)) < 1e-6


def test_simhash_pairs_bucket_cap_bounds_skewed_candidates(spark):
    """500 near-identical docs pile into one (band, key) bucket per band —
    the 100 TB skew shape. With bucket_cap set, the hot buckets are dropped
    and the candidate join stays bounded; without it the full quadratic
    pair set comes back (the pigeonhole-exact default the oracle checks)."""
    docs = [(i, "the same boilerplate template text repeated everywhere") for i in range(500)]
    docs += [(1000 + i, f"unique document number {i} about topic {i * 7}") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = dedup.simhash_pairs(df, max_hamming=3).count()
    assert uncapped >= 500 * 499 // 2  # the skew clique is fully quadratic

    capped_df = dedup.simhash_pairs(df, max_hamming=3, bucket_cap=50)
    capped = capped_df.count()
    # every hot bucket (>50 members) is dropped, so the 500-doc clique
    # cannot contribute; only small-bucket pairs survive
    assert capped < 50 * 49 // 2 * 4
    assert capped < uncapped


def test_simhash_pairs_bucket_cap_noop_when_no_hot_buckets(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "wholly different words occupying space"),
            (4, "another unrelated sentence entirely separate"),
        ],
        "doc_id long, text string",
    )
    base = {(r["a"], r["b"]) for r in dedup.simhash_pairs(df, max_hamming=10).collect()}
    capped = {
        (r["a"], r["b"])
        for r in dedup.simhash_pairs(df, max_hamming=10, bucket_cap=100).collect()
    }
    assert base == capped


def test_simhash_dup_docs_same_hash(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "wholly different words here")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_exact_dedup_finds_planted(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique")], "doc_id int, text string"
    )
    out = dedup.exact_duplicates(df).collect()
    assert len(out) == 1 and out[0]["n_docs"] == 2 and out[0]["keep_id"] == 1


def test_geo_within_radius_monotone(spark, docs):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 1.0), (3, 50.0, 50.0)], "doc_id int, lat double, lon double"
    )
    near = geo.within_distance(df, 0.0, 0.0, 200.0).collect()
    assert {r["doc_id"] for r in near} == {1, 2}
    nearest = geo.nearest(df, 0.1, 0.1, k=1).head()
    assert nearest["doc_id"] == 1


def test_point_in_polygon(spark):
    # unit square + a concave "notch" polygon
    square = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 15.0, 5.0), (3, 9.9, 9.9), (4, -0.1, 5.0)],
        "id int, lat double, lon double",
    )
    inside = {r["id"] for r in geo.within_polygon(pts, square).collect()}
    assert inside == {1, 3}

    concave = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (5.0, 5.0), (0.0, 10.0)]
    pts2 = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 8.0, 5.0), (3, 6.5, 9.0)],
        "id int, lat double, lon double",
    )
    got = {r["id"] for r in geo.within_polygon(pts2, concave).collect()}
    # (8,5) sits under the notch apex -> inside; (6.5,9) is in the notch -> outside
    assert 1 in got and 2 in got and 3 not in got


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 5.0), ("b", 4, 1.0)],
        "g string, id int, v double",
    )
    out = topk.topk_per_group(df, ["g"], "v", k=2, tiebreak_col="id").collect()
    a_ids = [r["id"] for r in out if r["g"] == "a"]
    assert a_ids == [2, 1]


def test_language_id_scores(spark, docs):
    out = textanalysis.language_id(docs)
    assert out.count() == docs.count()
    assert out.where(F.col("lang_score") < 0).count() == 0


def test_corpus_stats_shape(spark, docs):
    row = sparse.corpus_stats(docs).head()
    assert row["total_docs"] > 0
    assert row["vocab_size"] > 0
    assert row["avg_doc_length"] > 0


def test_sq_quantize_codes_and_search(spark, emb):
    """SQ8: codes in 0..255, constant vectors degrade safely, and the
    two-stage search keeps high recall at a small rescore budget."""
    sq = quantization.sq_quantize(emb)
    row = sq.head()
    assert all(0 <= c <= 255 for c in row["codes"])
    const = spark.createDataFrame([(1, [2.0, 2.0, 2.0])], "vec_id long, embedding array<double>")
    crow = quantization.sq_quantize(const).head()
    assert crow["rng"] == 0.0 and list(crow["codes"]) == [0, 0, 0]

    qv = search.query_vector_of(emb, 0)
    exact = {r["vec_id"] for r in search.knn(emb, qv, k=10).collect()}
    res = quantization.sq_search(emb, qv, k=10, rescore=50).collect()
    ids = [r["vec_id"] for r in res]
    assert ids[0] == 0  # self-match survives 8-bit quantization
    assert len(set(ids) & exact) >= 7  # SQ8 coarse ranking is magnitude-aware


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left ts per key;
    same-ts ties go to the highest right id; no prior row -> NULLs."""
    from grape_vector_db_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 10, "u"), (2, 20, "u"), (3, 5, "v")],
        "event_id long, ts long, user string",
    )
    right = spark.createDataFrame(
        [(100, 10, "u", 1.0), (101, 10, "u", 2.0), (102, 15, "u", 3.0),
         (103, 50, "v", 9.0)],
        "event_id long, ts long, user string, value double",
    )
    out = {
        r["event_id"]: (r["event_id_matched"], r["value_matched"])
        for r in asof.asof_join(
            left, right, on="ts", by=["user"], right_id="event_id"
        ).collect()
    }
    assert out[1] == (101, 2.0)   # same-ts tie -> max right id
    assert out[2] == (102, 3.0)   # latest prior
    assert out[3] == (None, None)  # right row is in the future


def test_stratified_sample_and_split(spark, docs):
    """Hash-gate sampling: reproducible, stratum-respecting, and the
    train/eval split is disjoint + exhaustive."""
    from grape_vector_db_spark.operators import sampling

    s1 = sampling.stratified_sample(docs, {"en": 0.5}, "lang", "doc_id", seed=3)
    s2 = sampling.stratified_sample(docs, {"en": 0.5}, "lang", "doc_id", seed=3)
    ids1 = {r["doc_id"] for r in s1.collect()}
    assert ids1 == {r["doc_id"] for r in s2.collect()}  # reproducible
    assert {r["lang"] for r in s1.collect()} == {"en"}  # unlisted strata drop
    n_en = docs.where("lang = 'en'").count()
    assert 0.3 * n_en < len(ids1) < 0.7 * n_en  # ~Bernoulli(0.5)

    train, ev = sampling.split_train_eval(docs, 0.25, "doc_id", seed=9)
    t = {r["doc_id"] for r in train.collect()}
    e = {r["doc_id"] for r in ev.collect()}
    assert t.isdisjoint(e) and len(t) + len(e) == docs.count()


def test_interval_join_semantics(spark):
    """All right rows within [left-window, left] per key; boundary
    inclusive on both ends; bucket edges handled."""
    from grape_vector_db_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 100, "u"), (2, 205, "u")], "pid long, ts long, user string"
    )
    right = spark.createDataFrame(
        [(10, 0, "u"), (11, 95, "u"), (12, 100, "u"), (13, 150, "u"),
         (14, 206, "u"), (15, 100, "v")],
        "cid long, ts long, user string",
    )
    got = {
        (r["pid"], r["cid_right"])
        for r in asof.interval_join(
            left, right, window=100, on="ts", by=["user"]
        ).collect()
    }
    # pid 1 window [0, 100]: cids 10, 11, 12 (not 15 — other user)
    # pid 2 window [105, 205]: cid 13 only (14 is after the purchase)
    assert got == {(1, 10), (1, 11), (1, 12), (2, 13)}


def test_geo_distance_pairs_dateline_and_exactness(spark):
    """Grid spatial join must find dateline-straddling pairs (modular lon
    cells) and match a brute-force check exactly."""
    import itertools
    import math as m

    pts = [(1, 10.0, 179.9), (2, 10.0, -179.9), (3, 10.0, 0.0),
           (4, 10.5, 0.3), (5, 60.0, 0.0), (6, -70.0, 0.0)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {(r["a"], r["b"]) for r in geo.distance_pairs(df, 100.0).collect()}

    def hav(p, q):
        _, la1, lo1 = p
        _, la2, lo2 = q
        a = (m.sin(m.radians(la2 - la1) / 2) ** 2
             + m.cos(m.radians(la1)) * m.cos(m.radians(la2))
             * m.sin(m.radians(lo2 - lo1) / 2) ** 2)
        return 2 * 6371.0 * m.asin(m.sqrt(a))

    want = {
        (p[0], q[0])
        for p, q in itertools.combinations(pts, 2)
        if hav(p, q) <= 100.0 and abs(p[1]) <= 66 and abs(q[1]) <= 66
    }
    assert (1, 2) in got  # dateline wrap found
    assert got == want
    assert not any(6 in pair for pair in got)  # outside the lat band


def test_hashed_features_dense_shape(spark):
    """Fixed-width output; slot counts sum to the kept-token count;
    identical texts hash identically."""
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha beta alpha"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: list(r["features"])
            for r in textanalysis.hashed_features(df, dim=16).collect()}
    assert len(rows[1]) == 16 and sum(rows[1]) == 3  # alpha x2 + beta
    assert rows[1] == rows[2]
    # empty doc: ONE row with the zero vector (row-per-doc rule — a
    # dropped row silently lost degenerate docs from feature joins)
    assert rows[3] == [0] * 16


def test_contamination_pairs_detects_leakage(spark):
    """An eval doc copied from train -> overlap 1.0; partial n-gram leak
    scores fractionally; unrelated eval docs are absent."""
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally separate words here")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),   # full copy
         (101, "alpha beta gamma completely changed tail"),  # partial
         (102, "nothing shared whatsoever friend")],
        "doc_id long, text string",
    )
    got = {
        r["eval_id"]: (r["train_id"], r["overlap"])
        for r in dedup.contamination_pairs(train, ev, n=3, threshold=0.2).collect()
    }
    assert got[100] == (1, 1.0)
    assert got[101][0] == 1 and 0.2 <= got[101][1] < 1.0
    assert 102 not in got


def test_token_entropy_orders_repetitiveness(spark):
    """Uniform token distribution maxes entropy (log2 k); fully repeated
    token gives 0; templated text sits between."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),          # 4 distinct -> log2(4)=2
         (2, "alpha alpha alpha alpha"),         # one token   -> 0
         (3, "alpha alpha alpha beta")],         # skewed      -> (0, 2)
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["entropy"] for r in textanalysis.token_entropy(df).collect()}
    assert got[1] == 2.0
    assert got[2] == 0.0
    assert 0.0 < got[3] < got[1]


def test_cluster_pairs_transitive_closure(spark):
    """A~B and B~C must land in ONE cluster labeled by the min id, even
    though A~C was never emitted; disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(5, 9), (9, 12), (20, 21)], "a long, b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.cluster_pairs(pairs).collect()}
    assert got == {5: 5, 9: 5, 12: 5, 20: 20, 21: 20}


def test_cluster_pairs_long_chain_converges(spark):
    """A path graph (worst diameter) still converges to the min label —
    on BOTH the driver fast path (default) and the distributed
    batched-pointer-jumping loop (small_graph_threshold=0)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a long, b long"
    )
    for thresh in (2_000_000, 0):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.cluster_pairs(
                pairs, small_graph_threshold=thresh
            ).collect()
        }
        assert set(got.values()) == {0} and len(got) == 11


def test_asof_join_matched_row_stays_atomic(spark):
    """A NULL payload field in the MATCHED right row must stay NULL — not
    back-fill from an older right row (the carried struct is atomic)."""
    from grape_vector_db_spark.operators import asof

    left = spark.createDataFrame([(1, 20, "u")], "pid long, ts long, user string")
    right = spark.createDataFrame(
        [(100, 5, "u", 1.0, "old"), (101, 10, "u", None, "new")],
        "event_id long, ts long, user string, value double, note string",
    )
    row = asof.asof_join(
        left, right, on="ts", by=["user"], right_id="event_id"
    ).collect()[0]
    assert row["event_id_matched"] == 101
    assert row["note_matched"] == "new"
    assert row["value_matched"] is None  # NOT 1.0 from the older row


def test_split_train_eval_null_id_lands_in_train(spark):
    """NULL ids hash to NULL; the gate must coalesce so the row lands in
    train instead of vanishing from both splits."""
    from grape_vector_db_spark.operators import sampling

    df = spark.createDataFrame(
        [(str(i),) for i in range(40)] + [(None,)], "doc_id string"
    )
    train, ev = sampling.split_train_eval(df, 0.25, "doc_id", seed=9)
    t = [r["doc_id"] for r in train.collect()]
    e = [r["doc_id"] for r in ev.collect()]
    assert len(t) + len(e) == 41  # exhaustive, including the NULL row
    assert None in t and None not in e


def test_cluster_pairs_nonconvergence_raises(spark):
    """Exhausting max_iter with labels still changing must raise, not
    return partially-propagated clusters."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long"
    )
    # max_iter governs the distributed loop; force it (the driver fast
    # path is exact and needs no iteration cap)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.cluster_pairs(pairs, max_iter=2, small_graph_threshold=0)


def test_geo_distance_pairs_lon180_boundary(spark):
    """A point at exactly lon=180 must pair with its dateline neighbors —
    the base cell wraps mod n_lon like the neighbor cells do."""
    pts = [(1, 10.0, 180.0), (2, 10.0, -179.9), (3, 10.0, 179.9)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {(r["a"], r["b"]) for r in geo.distance_pairs(df, 100.0).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_pq_encode_preserves_passthrough_types(spark):
    """_pq_encode passthrough columns keep their source types (string
    partition keys survive; nothing is coerced to int)."""
    src = spark.createDataFrame(
        [(1, [0.1, 0.1], "p0"), (2, [1.0, 0.9], "p1")],
        "id long, v array<double>, part string",
    )
    out = ann._pq_encode(src, [[[0.0, 0.0], [1.0, 1.0]]], m=1, sub=2)
    assert dict(out.dtypes)["part"] == "string"
    rows = {r["id"]: (r["part"], list(r["codes"])) for r in out.collect()}
    assert rows == {1: ("p0", [0]), 2: ("p1", [1])}


def test_rp_tables_deterministic_and_contains_single_table(spark, emb):
    """Multi-table RP-LSH: (1) bucket assignment is a pure function of
    (seed, table); (2) table t of random_projection_tables equals a
    single-table run seeded seed+t — the OR-amplified candidate set can
    only grow with L."""
    from grape_vector_db_spark.operators import ann

    t1 = ann.random_projection_tables(emb, n_planes=4, n_tables=3, seed=7)
    t2 = ann.random_projection_tables(emb, n_planes=4, n_tables=3, seed=7)
    rows1 = sorted(map(tuple, t1.collect()))
    assert rows1 == sorted(map(tuple, t2.collect()))

    single = {
        (r["id"], r["bucket"])
        for r in ann.random_projection_buckets(emb, n_planes=4, seed=8).collect()
    }
    table1 = {
        (r["id"], r["bucket"])
        for r in t1.where("tbl = 1").select("id", "bucket").collect()
    }
    assert table1 == single


class TestMMRRerank:
    def _cands(self, spark, rows):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("id", T.LongType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def test_mmr_defers_near_duplicate(self, spark):
        """A clone of the #1 hit outranks everything on relevance but must
        be pushed below a less-similar candidate by the diversity term."""
        from grape_vector_db_spark.operators.search import mmr_rerank

        rows = [
            (0, 1, 0.99, [1.0, 0.0]),   # top hit
            (0, 2, 0.98, [1.0, 0.001]), # near-clone of id 1
            (0, 3, 0.80, [0.0, 1.0]),   # orthogonal, lower relevance
        ]
        out = mmr_rerank(self._cands(spark, rows), k=3, lam=0.5)
        picks = [r["id"] for r in out.orderBy("rank").collect()]
        assert picks == [1, 3, 2]

    def test_mmr_pure_relevance_at_lam_one(self, spark):
        from grape_vector_db_spark.operators.search import mmr_rerank

        rows = [
            (0, 1, 0.9, [1.0, 0.0]),
            (0, 2, 0.8, [1.0, 0.0]),
            (0, 3, 0.7, [0.0, 1.0]),
        ]
        out = mmr_rerank(self._cands(spark, rows), k=3, lam=1.0)
        picks = [r["id"] for r in out.orderBy("rank").collect()]
        assert picks == [1, 2, 3]

    def test_mmr_groups_independent(self, spark):
        from grape_vector_db_spark.operators.search import mmr_rerank

        rows = [
            (0, 1, 0.9, [1.0, 0.0]),
            (0, 2, 0.8, [0.0, 1.0]),
            (1, 7, 0.5, [1.0, 1.0]),
        ]
        out = mmr_rerank(self._cands(spark, rows), k=2, lam=0.7)
        got = {(r["query_id"], r["rank"]): r["id"] for r in out.collect()}
        assert got == {(0, 1): 1, (0, 2): 2, (1, 1): 7}


def test_matryoshka_recall_reasonable(spark, emb):
    """Prefix-dim coarse + full rescore must recover most of the exact
    top-10 (16/64 dims keeps most of the signal on this data)."""
    from grape_vector_db_spark.operators.search import (
        knn,
        matryoshka_search,
        query_vector_of,
    )

    qv = query_vector_of(emb, 0)
    exact = {r["vec_id"] for r in knn(emb, qv, k=10).collect()}
    n = emb.count()
    # rescore >= corpus: stage 2 sees every row, so the result IS exact
    full = {
        r["vec_id"]
        for r in matryoshka_search(emb, qv, dims=16, k=10, rescore=n).collect()
    }
    assert full == exact
    # budgeted prefix scan still recovers a usable share of the exact
    # top-10 (synthetic embeddings spread signal evenly across dims —
    # the worst case for a prefix code; real MRL models concentrate it)
    mrl = {r["vec_id"] for r in matryoshka_search(emb, qv, dims=16, k=10).collect()}
    assert len(exact & mrl) >= 4


def test_rp_project_preserves_norms_in_expectation(spark, emb):
    """JL guarantee sanity: with sqrt(3/n_out) scaling (E[c^2] = 1/3 for
    U[-1,1] entries), projected squared norms track original squared
    norms 1:1 on average (loose band — n_out=16 is a 4x compression)."""
    import numpy as np

    from grape_vector_db_spark.operators.ann import rp_project

    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in emb.limit(50).collect()
    }
    proj = {
        r["id"]: np.asarray(r["proj"], dtype=float)
        for r in rp_project(emb.limit(50), n_out=16, dim=64).collect()
    }
    ratios = [(proj[k] ** 2).sum() / (orig[k] ** 2).sum() for k in orig]
    m = float(np.mean(ratios))
    assert 0.6 < m < 1.6


def test_rp_project_deterministic_across_calls(spark, emb):
    from grape_vector_db_spark.operators.ann import rp_project

    a = rp_project(emb.limit(5), n_out=4, dim=64).collect()
    b = rp_project(emb.limit(5), n_out=4, dim=64).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_sq_dim_codes_bounds_and_reconstruction(spark, emb):
    """Per-dim SQ8: codes in [0,255]; dequantized values within one step
    of the original in every dimension."""
    from grape_vector_db_spark.operators.quantization import (
        sq_dim_quantize,
        sq_dim_train,
    )

    mins, rngs = sq_dim_train(emb)
    rows = sq_dim_quantize(emb, mins, rngs).limit(20).collect()
    orig = {r["vec_id"]: list(r["embedding"]) for r in emb.limit(200).collect()}
    for r in rows:
        cs = r["codes"]
        assert all(0 <= c <= 255 for c in cs)
        v = orig[r["vec_id"]]
        for i, c in enumerate(cs):
            deq = mins[i] + c / 255.0 * rngs[i]
            assert abs(deq - v[i]) <= rngs[i] / 255.0 + 1e-9


def test_sq_dim_search_recall(spark, emb):
    from grape_vector_db_spark.operators.quantization import sq_dim_search
    from grape_vector_db_spark.operators.search import knn, query_vector_of

    qv = query_vector_of(emb, 0)
    exact = {r["vec_id"] for r in knn(emb, qv, k=10).collect()}
    got = {r["vec_id"] for r in sq_dim_search(emb, qv, k=10, rescore=50).collect()}
    assert 0 in got  # self-match survives quantization
    assert len(exact & got) >= 7


def test_class_centroid_metrics_separable_clusters(spark):
    """Two orthogonal clusters: perfect cohesion and accuracy."""
    from grape_vector_db_spark.operators.evaluation import class_centroid_metrics

    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [1.0, 0.05], 0),
        (4, [0.0, 1.0], 1), (5, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in class_centroid_metrics(df).collect()}
    assert out[0]["n_members"] == 3 and out[1]["n_members"] == 2
    assert out[0]["nn_accuracy"] == 1.0 and out[1]["nn_accuracy"] == 1.0
    assert out[0]["mean_intra_cosine"] > 0.95
    assert out[1]["mean_intra_cosine"] > 0.95


def test_class_centroid_metrics_mislabeled_member(spark):
    from grape_vector_db_spark.operators.evaluation import class_centroid_metrics

    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.01], 0), (3, [1.0, 0.02], 0),
        (4, [0.0, 1.0], 1), (5, [0.0, 0.9], 1),
        (6, [1.0, 0.0], 1),  # lives in cluster 0 but labeled 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in class_centroid_metrics(df).collect()}
    assert out[0]["nn_accuracy"] == 1.0
    assert out[1]["nn_accuracy"] < 1.0  # the impostor votes for cluster 0


def test_graph_beam_search_reaches_true_neighbors(spark, emb):
    """The beam walk over the exact 5-NN graph must (a) be deterministic,
    (b) return scores identical to brute force for the ids it reports,
    (c) achieve decent recall@10 vs exact search from cold entry points,
    and (d) never shrink its result below k when the graph allows it."""
    from grape_vector_db_spark.operators import ann, search

    qv = search.query_vector_of(emb, 0)
    edges = ann.knn_graph(emb, k=5)
    got = ann.graph_beam_search(edges, emb, qv, k=10, beam=8, hops=3)
    rows = [(r["vec_id"], r["score"]) for r in got.collect()]
    again = [
        (r["vec_id"], r["score"])
        for r in ann.graph_beam_search(
            edges, emb, qv, k=10, beam=8, hops=3
        ).collect()
    ]
    assert rows == again and len(rows) == 10
    exact = {r["vec_id"]: r["score"] for r in search.knn(emb, qv, k=200).collect()}
    # scores agree with brute force wherever reported
    assert all(exact.get(i) == s for i, s in rows if i in exact)
    top10 = set(list(exact)[:10])
    recall = len(top10 & {i for i, _ in rows}) / 10
    assert recall >= 0.3  # cold entries, tiny graph: the walk must make progress
    # more hops never hurt: visited set is monotone
    deeper = ann.graph_beam_search(edges, emb, qv, k=10, beam=8, hops=5)
    d_min = min(r["score"] for r in deeper.collect())
    assert d_min >= min(s for _, s in rows)


def test_graph_beam_search_entry_override_and_zero_hops(spark, emb):
    from grape_vector_db_spark.operators import ann, search

    qv = search.query_vector_of(emb, 0)
    edges = ann.knn_graph(emb, k=5)
    # hops=0: exactly the scored entry points
    out = ann.graph_beam_search(
        edges, emb, qv, k=5, beam=3, hops=0, entry_ids=[7, 8, 9]
    ).collect()
    assert sorted(r["vec_id"] for r in out) == [7, 8, 9]


def test_graph_beam_search_filtered_gates_results_only(spark, emb):
    """The filter gates the FINAL top-k, never the walk: every returned
    id passes, scores equal brute force, and the unfiltered walk from
    the same parameters is a superset of the visited universe."""
    from grape_vector_db_spark.operators import ann, search

    qv = search.query_vector_of(emb, 0)
    edges = ann.knn_graph(emb, k=5)
    got = ann.graph_beam_search(
        edges, emb, qv, k=10, beam=16, hops=4,
        result_filter=F.col("label") == 3,
    ).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.select("vec_id", "label").collect()
    }
    assert got and all(labels[r["vec_id"]] == 3 for r in got)
    exact = {r["vec_id"]: r["score"] for r in search.knn(emb, qv, k=500).collect()}
    assert all(exact.get(r["vec_id"]) == r["score"] for r in got)


def test_graph_beam_search_batch_matches_single(spark, emb):
    """Each query's batch walk must equal its single-query walk (same
    beam/hops/entries) — the batch form is a throughput shape, not a
    different algorithm."""
    from grape_vector_db_spark.operators import ann, search

    edges = ann.knn_graph(emb, k=5)
    queries = emb.where(F.col("vec_id").isin([2, 5])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = ann.graph_beam_search_batch(
        edges, emb, queries, k=5, beam=8, hops=2
    ).collect()
    for qid in (2, 5):
        qv = search.query_vector_of(emb, qid)
        single = [
            (r["vec_id"], r["score"])
            for r in ann.graph_beam_search(
                edges, emb, qv, k=5, beam=8, hops=2
            ).collect()
        ]
        got = [
            (r["id"], r["score"])
            for r in sorted(
                (x for x in batch if x["query_id"] == qid),
                key=lambda x: x["rank"],
            )
        ]
        assert got == single


def test_recommend_excludes_examples_and_ranks(spark, emb):
    """Both strategies: example ids never appear in results; scores are
    sorted with the id tiebreak; average_vector with only positives
    equals knn against the positive mean."""
    got = search.recommend(emb, positive_ids=[5], k=8).collect()
    ids = [r["vec_id"] for r in got]
    assert 5 not in ids and len(ids) == 8
    qv = search.query_vector_of(emb, 5)
    want = [
        r["vec_id"]
        for r in search.knn(emb.where(F.col("vec_id") != 5), qv, k=8).collect()
    ]
    assert ids == want

    best = search.recommend(
        emb, positive_ids=[1, 2], negative_ids=[3, 4], k=8,
        strategy="best_score",
    ).collect()
    bids = [r["vec_id"] for r in best]
    assert not set(bids) & {1, 2, 3, 4}
    scores = [r["score"] for r in best]
    assert scores == sorted(scores, reverse=True)

    import pytest as _pt
    with _pt.raises(ValueError):
        search.recommend(emb, positive_ids=[])
    with _pt.raises(KeyError):
        search.recommend(emb, positive_ids=[10**9])


def test_recommend_batch_matches_single(spark, emb):
    """Each user's rows in recommend_batch must equal a standalone
    average_vector recommend() with the same examples — same ids, same
    scores (the 2-pos/1-neg fixture keeps both target derivations
    bit-identical)."""
    ex = spark.createDataFrame(
        [
            (101, 1, 1), (101, 2, 1), (101, 3, -1),
            (102, 5, 1), (102, 6, 1), (102, 7, -1),
        ],
        "user_id long, example_id long, polarity int",
    )
    batch = search.recommend_batch(emb, ex, k=6).collect()
    for uid, pos, neg in ((101, [1, 2], [3]), (102, [5, 6], [7])):
        single = search.recommend(emb, pos, neg, k=6).collect()
        got = [(r["id"], r["score"]) for r in batch if r["user_id"] == uid]
        want = [(r["vec_id"], r["score"]) for r in single]
        assert got == want

def test_recommend_batch_error_contract_matches_single(spark, emb):
    """Batch and single paths must agree on error contracts: a user with
    zero positive rows raises ValueError (single-path recommend requires
    a positive example; batch would otherwise compute avg(NULL)=NULL per
    dimension — a null target vector and garbage results), and example
    ids absent from the corpus raise KeyError (single-path raises; the
    batch inner join would silently drop them)."""
    import pytest as _pt

    no_pos = spark.createDataFrame(
        [(201, 1, 1), (201, 2, -1), (202, 3, -1)],
        "user_id long, example_id long, polarity int",
    )
    with _pt.raises(ValueError, match="202"):
        search.recommend_batch(emb, no_pos, k=3).collect()

    ghost = spark.createDataFrame(
        [(301, 1, 1), (301, 10**9, 1)],
        "user_id long, example_id long, polarity int",
    )
    with _pt.raises(KeyError, match="1000000000"):
        search.recommend_batch(emb, ghost, k=3).collect()


def test_knn_graph_add_update_batch_no_duplicate_pairs(spark, emb):
    """knn_graph_add on a batch that UPDATES an existing vector must not
    leave duplicate (src, dst) rows: old edges pointing AT a batch id
    carry the pre-update cosine and are stale — they drop, and the
    freshly scored (src, batch_dst) candidates replace them (ADVICE r7
    high). Callers still owe updates a full rebuild for exactness; this
    pins that the incremental output is at least structurally sane."""
    from grape_vector_db_spark.operators import ann

    base = emb.select("vec_id", "embedding").limit(60)
    edges = ann.knn_graph(base, k=4, id_col="vec_id", vec_col="embedding")
    # replace vec 0's embedding with vec 50's (an update), post-merge corpus
    moved = base.where(F.col("vec_id") == 50).select(
        F.lit(0).cast("long").alias("vec_id"), "embedding"
    )
    merged = base.where(F.col("vec_id") != 0).unionByName(moved)
    batch_ids = moved.select("vec_id")
    grown = ann.knn_graph_add(
        edges, merged, batch_ids, 4, id_col="vec_id", vec_col="embedding"
    )
    dup = grown.groupBy("src", "dst").count().where("count > 1").count()
    assert dup == 0
    # every src still has exactly k out-edges with ranks 1..k
    per = grown.groupBy("src").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    )
    assert per.where("n != 4 or mx != 4").count() == 0
