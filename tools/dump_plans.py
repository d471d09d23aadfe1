"""Generate PLANS.md — formatted physical plans for the flagship queries,
so the execution shapes are reviewable without running Spark.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from grape_vector_db_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("knn_cosine", "zero-shuffle scan -> cosine -> TakeOrderedAndProject"),
    ("knn_batch", "broadcast query table, corpus scanned once, window top-k"),
    ("bm25", "postings filtered to query terms, broadcast stats, one final agg"),
    ("hybrid_rrf", "three candidate sub-plans -> union -> rank window -> agg"),
    ("hamming_topk", "packed-bits stage-1 scan -> broadcast rescore join"),
    ("ivf_flat", "literal-centroid assign (Arrow map) -> filter -> TakeOrdered, join-free"),
    ("ivf_flat_pruned", "partition-pruned read of the persisted inverted list, zero joins"),
    ("ivf_add", "incremental index insert: frozen-centroid Arrow assign, zero join (the trailing sort is the query's oracle-stable output order; the bare operator is zero-Exchange — plan-pinned)"),
    ("recommend_best", "example vectors folded into ONE corpus scan -> TakeOrderedAndProject"),
    ("dedup_minhash", "band-bucket self-join -> candidate verify joins"),
    ("events_asof", "as-of join: union + carry-forward window, zero joins"),
    ("events_interval_join", "time-bucket equi-join, no BroadcastNestedLoopJoin"),
    ("geo_pairs", "grid-cell spatial self-join (3x3 neighbor explode)"),
    ("revenue_by_nation", "fact table scanned once, all dims broadcast"),
    ("filter_where_sql", "predicates pushed to the parquet scan"),
    ("pii_redact", "curation narrow map: scan -> project, zero Exchange"),
    (
        "strip_boilerplate",
        "frequent-line set broadcast into a LeftAnti hash join",
    ),
    (
        "curation_pipeline",
        "C4 filter + repetition gate + md5-dedup window + quota rank, "
        "one chain",
    ),
    ("winnow_fingerprints", "one Arrow-batched numpy map, zero Exchange"),
    (
        "incremental_neardup",
        "delta-sized batch probes the cached corpus band/shingle index",
    ),
    ("bpe_segment", "chained replace expressions, zero Exchange"),
    (
        "dsir_weights",
        "B-row broadcast weight model, two bounded shuffles",
    ),
    ("late_orders", "EXISTS compiled to a LeftSemi hash join"),
    (
        "matryoshka_topk",
        "prefix-dim coarse TakeOrdered -> broadcast full-dim rescore",
    ),
    ("sq_dim_topk", "per-dim SQ8 code fold -> TakeOrdered -> broadcast rescore"),
    (
        "mmr_rerank",
        "bounded candidates shuffle once on query_id into the MMR kernel",
    ),
    (
        "trim_dup_spans",
        "gram ownership groupBy -> anti-join cut -> in-group ordered concat",
    ),
    (
        "shipping_priority",
        "selective dims broadcast into the fact scan, grouped TakeOrdered",
    ),
    ("label_centroids", "dim-fanout centroid agg, broadcast centroid probes"),
    (
        "maxsim",
        "query vectors folded into the chunk scan, one groupBy(doc) "
        "of per-query maxes",
    ),
    ("within_doc_dedup", "order-preserving array_distinct, zero Exchange"),
    (
        "discover",
        "5 context/target cosines folded into ONE scan -> "
        "TakeOrderedAndProject, zero Exchange",
    ),
    (
        "distance_matrix",
        "sample-capped pair join: both sides broadcast, corpus untouched",
    ),
    ("gopher_rules", "seven quality signals + keep flag in one pure-map scan"),
    (
        "partition_pruned_knn",
        "equality filter as a directory skip (PartitionFilters) -> "
        "zero-shuffle TakeOrdered knn, no docs join",
    ),
    (
        "payload_posting_knn",
        "AND-of-equalities as intersected posting-directory reads "
        "(field-pruned, value in row-group stats) -> semi-join -> "
        "TakeOrdered knn; documents never scanned",
    ),
    (
        "zipf_slope",
        "bucketed global rank (no Exchange SinglePartition) -> tiny moments agg",
    ),
    (
        "snapshot_diff",
        "presence-sentinel full outer join, null-safe column compares",
    ),
    (
        "large_orders",
        "fact group-HAVING -> broadcast dims join-back -> TakeOrdered",
    ),
    (
        "bm25_feedback",
        "two-stage PRF: stage-1 BM25 -> bounded feedback collect -> "
        "expanded-query rescore",
    ),
    ("pca_project", "literal component matrix, zero-shuffle narrow folds"),
    (
        "phrase_match",
        "selective per-term postings filters -> (doc, pos) adjacency joins",
    ),
    (
        "rfm_segments",
        "percentile cuts broadcast as a single row into a narrow scorer",
    ),
    (
        "order_priority_check",
        "EXISTS -> LeftSemi hash join, date inequality as the residual",
    ),
    (
        "product_profit",
        "dims broadcast; the one big-x-big shuffle join on the natural key",
    ),
    (
        "important_parts",
        "one fact scan; global threshold = window over the dim-sized agg",
    ),
    (
        "disjunctive_revenue",
        "hand-factored containment filter pushed into the part build",
    ),
    (
        "shuffle_shards",
        "one hash shuffle on the md5-permutation shard, per-shard sort",
    ),
    (
        "token_budget",
        "two-level bucketed prefix sum -> narrow budget cut",
    ),
    (
        "image_neardup",
        "banded Hamming self-join over the aHash fingerprint table",
    ),
    (
        "click_attribution",
        "equi-key + bounded time-band join (streaming-evictable shape)",
    ),
    (
        "knn_kcore",
        "per-round degree agg + two semi-joins, edge-table-sized",
    ),
    (
        "payload_range_knn",
        "value_num range-read of one posting directory ∩ equality probe "
        "-> id semi-join -> zero-shuffle TakeOrdered knn (documents "
        "never scanned)",
    ),
    (
        "token_filter_indexed",
        "inverted-index term probe (df(term)-bounded) -> id semi-join; "
        "the corpus text never re-tokenized at query time",
    ),
    (
        "search_groups",
        "zero-shuffle scored scan + posting-directory group column; one "
        "shuffle on the group key for the two windows",
    ),
    (
        "scroll_page",
        "pushed id>cursor predicate row-group-skips to position — deep "
        "pagination O(page), no OFFSET scan",
    ),
    (
        "cluster_quota_sample",
        "Arrow-batched literal centroid assignment (no join) + "
        "cluster-keyed window quota",
    ),
    (
        "payload_match_knn",
        "Match leaf: per-token inverted-index probes (df-bounded) "
        "intersected ∩ lang posting probe -> id semi-join -> "
        "zero-shuffle TakeOrdered knn; documents never scanned or "
        "re-tokenized",
    ),
    (
        "search_groups_array",
        "array group-by served per-ELEMENT from the per-doc-distinct "
        "posting rows — no query-time explode, no docs join",
    ),
    (
        "search_batch_filtered",
        "N queries broadcast into ONE filtered-corpus scan (posting-"
        "gated semi-join), per-query top-k pre-reduced per partition",
    ),
    (
        "scroll_by_field",
        "compound (value,id) keyset predicate pushed into the value-"
        "sorted posting directory -> k-row broadcast hydration join",
    ),
    (
        "payload_nested_tree_knn",
        "RECURSIVE posting algebra: nested should union (range "
        "value_num read ∪ match term probes) intersected with the "
        "lang equality probe, most-selective-first chain; documents "
        "never scanned",
    ),
    (
        "payload_match_fuzzy_knn",
        "fuzzy Match leaf: per-token vocabulary expansion (length-"
        "banded) -> pushed In-filter probe of the inverted index ∩ "
        "lang posting probe; corpus never distance-scanned",
    ),
]


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical plans of the flagship queries (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`. The shapes below are",
        "pinned by `tests/test_plans.py`; see SCALE.md for why each shape",
        "is the right one at 100 TB.",
        "",
    ]
    qs = entrymod.queries()
    for name, note in SHOWCASE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree, drop the verbose per-node sections
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"_{note}_", "", "```", tree, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
