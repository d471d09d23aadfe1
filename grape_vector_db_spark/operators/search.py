"""Dense vector search operators (reference J1/J8/J9, P11).

Brute-force k-NN is the correctness anchor (the reference's
``vector_search``, src/storage.rs:296-339: scan all docs, cosine, threshold,
sort desc, truncate k). In Spark this is:

    scan (columnar, no shuffle) -> cosine expression (codegen) ->
    WHERE score >= t (pushed ahead of the sort) ->
    ORDER BY score DESC LIMIT k  => physical TakeOrderedAndProject:
    per-partition top-k heaps + an O(parts*k) driver merge — exactly the
    reference's distributed scatter-gather (src/distributed/shard.rs:760-901)
    but supplied by the engine instead of hand-rolled.

At 100 TB / 1000 executors this plan has **zero shuffles**: each task scans
its parquet split, keeps a k-row heap, and ships k rows to the driver.

Batch k-NN (a query *table* instead of one vector) broadcasts the query side
into a BroadcastNestedLoopJoin so the corpus is still scanned exactly once
with no shuffle; per-query top-k is a window over the (small) result.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_from_parts,
    dot,
    euclidean_distance,
    l2_norm,
    to_double_array,
    vector_lit,
)


def cosine_vs_query(v: Column, query_vector: Sequence[float]) -> Column:
    """Cosine of a vector column vs a literal query: the query norm is a
    Python-side constant; per row the work is one dot fold + one norm fold
    + one divide — the minimum possible.

    ``|q|`` multiplies inside the norm fold's finish lambda
    (``sqrt(acc) * |q|``, the same IEEE multiply as ``|v| * |q|``), so
    every query-dependent literal sits inside higher-order functions,
    which Spark evaluates outside generated code. A new query vector
    therefore reuses the compiled projection; as a top-level literal,
    ``|q|`` was inlined into the generated Java and every query compiled
    a fresh class."""
    q = [float(x) for x in query_vector]
    qnorm = math.sqrt(sum(x * x for x in q))
    scaled_norm = F.aggregate(
        F.transform(v, lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
        lambda acc: F.sqrt(acc) * F.lit(qnorm),
    )
    return F.coalesce(F.try_divide(dot(v, vector_lit(q)), scaled_norm), F.lit(0.0))


def knn(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k for one query vector. Returns (id, score) with score
    rounded to 6 dp (oracle-stable) and a deterministic id tiebreak.

    ``metric``: "cosine" (descending score, reference canonical) or
    "euclidean" (ascending distance, what the reference's HNSW used,
    src/index.rs:68-79).
    """
    v = to_double_array(vec_col)
    if metric == "cosine":
        score = cosine_vs_query(v, query_vector)
        asc = False
    elif metric == "euclidean":
        score = euclidean_distance(v, vector_lit(query_vector))
        asc = True
    else:
        raise ValueError(f"unknown metric {metric!r}")

    out = df.select(F.col(id_col), F.round(score, 6).alias("score"))
    if threshold is not None:
        out = out.where(
            F.col("score") >= threshold if not asc else F.col("score") <= threshold
        )
    order = [F.col("score").asc() if asc else F.col("score").desc(), F.col(id_col).asc()]
    return out.orderBy(*order).limit(k)


def query_vector_of(
    df: DataFrame, target_id, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[float]:
    """Fetch one stored vector to use as a query (single-row collect; O(dim))."""
    row = df.where(F.col(id_col) == target_id).select(vec_col).head()
    if row is None:
        raise KeyError(f"{id_col}={target_id} not found")
    return list(row[0])


def recommend(
    df: DataFrame,
    positive_ids: Sequence[int],
    negative_ids: Sequence[int] = (),
    k: int = 10,
    strategy: str = "average_vector",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    examples_df: DataFrame | None = None,
) -> DataFrame:
    """Recommendation by stored examples — rank the corpus by closeness
    to POSITIVE example points and distance from NEGATIVE ones, the
    examples themselves excluded from results. Capability ADDITION: the
    reference is query-vector-only; this is the public recommend-API
    shape modern vector stores expose, built from the same scan.

    Exact contracts (both engine-reproducible, 6-dp rounding + id
    tiebreak like :func:`knn`):

    - ``strategy="average_vector"``: one derived target vector —
      ``mean(positives)`` minus ``mean(negatives)`` (zero vector when no
      negatives contributes nothing) — then exact cosine top-k against
      it. Identical scale shape to knn: one narrow scan,
      TakeOrderedAndProject, zero shuffle.
    - ``strategy="best_score"``: per row, ``p = max_i cos(v, pos_i)``
      and ``n = max_j cos(v, neg_j)`` (each cosine rounded 6 dp before
      the max); score ``p`` when ``p > n`` else ``-n`` — points whose
      best match is a negative example sort by how hard to avoid they
      are. All example vectors fold into the scan as literals (a
      len(ids) x dim driver artifact — the query_vector_of contract),
      so the shape is still one narrow scan + top-k.
    """
    if not positive_ids:
        raise ValueError("at least one positive example id is required")
    ex_ids = [int(i) for i in positive_ids] + [int(i) for i in negative_ids]
    # examples resolve against examples_df when given (the facade passes
    # the FULL corpus there while df carries the filtered candidate set —
    # the discover() contract: a pair may reference an example the
    # filter excludes from results)
    ex_src = examples_df if examples_df is not None else df
    rows = {
        r[id_col]: [float(x) for x in r[vec_col]]
        for r in ex_src.where(F.col(id_col).isin(ex_ids)).collect()
    }
    missing = [i for i in ex_ids if i not in rows]
    if missing:
        raise KeyError(f"example ids not found: {missing}")
    pos = [rows[int(i)] for i in positive_ids]
    neg = [rows[int(i)] for i in negative_ids]
    rest = df.where(~F.col(id_col).isin(ex_ids))
    v = to_double_array(vec_col)
    if strategy == "average_vector":
        dim = len(pos[0])
        target = [
            sum(p[d] for p in pos) / len(pos)
            - (sum(n[d] for n in neg) / len(neg) if neg else 0.0)
            for d in range(dim)
        ]
        return knn(rest, target, k=k, id_col=id_col, vec_col=vec_col)
    if strategy == "best_score":
        def best(vecs):
            cols = [F.round(cosine_vs_query(v, q), 6) for q in vecs]
            return cols[0] if len(cols) == 1 else F.greatest(*cols)

        p = best(pos)
        score = (
            F.when(p > best(neg), p).otherwise(-best(neg)) if neg else p
        )
        return (
            rest.select(F.col(id_col), score.alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k)
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def recommend_batch(
    df: DataFrame,
    examples: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    user_col: str = "user_id",
    example_col: str = "example_id",
    polarity_col: str = "polarity",
) -> DataFrame:
    """Batch recommend — one average_vector :func:`recommend` per user
    for a whole example table at once (the serving-throughput shape,
    cf. :func:`knn_batch`). ``examples`` is (user_id, example_id,
    polarity) with polarity +1 positive / -1 negative; per user the
    target is mean(positive vectors) - mean(negative vectors) (users
    without negatives subtract nothing). Results exclude each user's
    own examples. Output (user_id, id, score, rank <= k) with the knn
    ordering contract (6-dp rounding, id tiebreak).

    Scale shape: ONE join fetches example vectors (the example table is
    the small side by construction); per-user targets fold from ONE
    collect_list aggregate over examples-only rows; the corpus is
    scanned ONCE for every user via knn_batch's broadcast-queries
    design. Each user's own example ids ride the broadcast targets row
    and are dropped inside the scan (knn_batch exclude_col) — exact
    top-k, never under-filled, no anti-join shuffle."""
    ex = examples.select(
        F.col(user_col).alias("user_id"),
        F.col(example_col).alias("ex_id"),
        F.col(polarity_col).alias("pol"),
    )
    # Same error contract as single-user recommend(): a user with zero
    # positive rows would get avg(NULL)=NULL per dimension (a null target
    # vector, garbage results), and an example id absent from the corpus
    # would be silently dropped by the inner join. Two cheap probes keep
    # the corpus out of the error path: per-user polarity stats (and the
    # over-fetch bound) come from the EXAMPLES table alone; missing ids
    # from an anti-join against an id-only corpus scan (column pruning
    # reads one column — never the vectors).
    gstats = ex.groupBy("user_id").agg(
        F.max(F.when(F.col("pol") > 0, 1).otherwise(0)).alias("_haspos"),
    )
    # BOUNDED driver artifacts only: the plan needs the global max
    # over-fetch (one scalar), the no-positive check (one count), and
    # the missing-id probe (EMPTY on the happy path; limit(21) bounds
    # the error path against a wholly-mismatched examples table) — the
    # previous collect() pulled one stats row per USER to the driver on
    # every call, O(users) memory on the happy path. r11: both probes
    # ride ONE Spark job (a cross join of two 1-row aggregates) instead
    # of two back-to-back driver actions — at query rate the second
    # job's fixed latency was pure overhead. The error paths alone pay
    # an extra tiny job for a capped offender sample.
    mis_agg = (
        ex.select("ex_id")
        .distinct()
        .join(
            df.select(F.col(id_col).alias("ex_id")), "ex_id", "left_anti"
        )
        .limit(21)
        .agg(F.sort_array(F.collect_list("ex_id")).alias("_miss"))
    )
    summary = (
        gstats.agg(
            F.sum(F.when(F.col("_haspos") == 0, 1).otherwise(0)).alias(
                "_nbad"
            ),
        )
        .crossJoin(mis_agg)
        .first()
    )
    if summary["_nbad"]:
        bad = [
            r["user_id"]
            for r in gstats.where(F.col("_haspos") == 0)
            .orderBy("user_id")
            .limit(20)
            .collect()
        ]
        raise ValueError(
            f"users lacking a positive example ({summary['_nbad']} "
            f"total; first {len(bad)}): {bad}"
        )
    missing = sorted(summary["_miss"] or [])
    if missing:
        extra = " (first 21)" if len(missing) > 20 else ""
        raise KeyError(f"example ids not found{extra}: {missing[:21]}")
    exv = ex.join(
        df.select(
            F.col(id_col).alias("ex_id"), to_double_array(vec_col).alias("v")
        ),
        "ex_id",
    )
    # r11: per-user target folded from collected example vectors in ONE
    # groupBy — the old posexplode -> groupBy(user, dim) ->
    # groupBy(user) chain shuffled twice per call (guide §2.4). Mean
    # order is immaterial: sums fold in deterministic (pol, ex_id)
    # sorted order, and the docstring's engine-exactness argument
    # (means over <=2 example vectors are single commutative additions)
    # is unchanged.
    dim = F.size(F.col("_vs")[0]["v"])
    idx = F.sequence(F.lit(0), dim - 1)

    def _mean(pred_sign):
        sel = F.filter(
            F.col("_vs"), lambda s: s["pol"] * F.lit(pred_sign) > 0
        )
        cnt = F.size(sel)
        return F.when(
            cnt > 0,
            F.transform(
                idx,
                lambda i: F.aggregate(
                    sel, F.lit(0.0), lambda acc, s: acc + s["v"][i]
                )
                / cnt,
            ),
        )

    targets = (
        exv.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pol", "ex_id", "v"))
            ).alias("_vs")
        )
        .select(
            "user_id",
            F.zip_with(
                _mean(1),
                F.coalesce(
                    _mean(-1),
                    F.transform(idx, lambda _: F.lit(0.0)),
                ),
                lambda p, n: p - n,
            ).alias("query_vec"),
            # the user's own example ids ride the broadcast targets row
            # so knn_batch drops them inside the scan — the zero-shuffle
            # equivalent of the old over-fetch(k + max examples) +
            # anti-join + window re-rank (which planned an SMJ with two
            # extra exchanges; provably the same rows: top-k of
            # non-examples either way)
            F.transform(F.col("_vs"), lambda s: s["ex_id"]).alias("_excl"),
        )
    )
    hits = knn_batch(
        df,
        targets.select(
            F.col("user_id").alias("query_id"), "query_vec", "_excl"
        ),
        k=k,
        corpus_id=id_col,
        corpus_vec=vec_col,
        exclude_col="_excl",
    )
    return hits.select(
        F.col("query_id").alias("user_id"),
        "id",
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    threshold: float | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_col: str | None = None,
) -> DataFrame:
    """Top-k per query for a whole query table (1 or 1M queries uniformly).

    ``broadcast(queries) crossJoin corpus`` -> cosine -> two-stage
    per-query top-k: a per-(query, input-partition) pre-reduction caps
    every scored stream at k rows per scan partition BEFORE the global
    per-query window (see _partition_local_topk) — without it a single
    query's window partition holds the WHOLE scored corpus in one task.
    The corpus (the 100 TB side) is scanned once with no shuffle; the
    broadcast side must be the small one. Output: (query_id, id, score, rank).

    ``exclude_col`` names an array<id> column on ``queries``: those
    corpus ids are dropped from that query's candidates INSIDE the
    scan stage, before any top-k — the zero-shuffle form of the
    over-fetch + anti-join + re-rank exclusion (the arrays ride the
    queries broadcast, so they must be per-query bounded).
    """
    qv = to_double_array(query_vec)
    qcols = [
        F.col(query_id).alias("query_id"),
        qv.alias("_qv"),
        l2_norm(qv).alias("_qn"),
    ]
    if exclude_col is not None:
        qcols.append(F.col(exclude_col).alias("_excl"))
    q = F.broadcast(queries.select(*qcols))
    cv = to_double_array(corpus_vec)
    c = corpus.select(
        F.col(corpus_id).alias("id"), cv.alias("_cv"), l2_norm(cv).alias("_cn")
    )
    joined = c.crossJoin(q)
    if exclude_col is not None:
        # NULL-safe: a query with a NULL exclusion array excludes
        # nothing (where(NULL) would silently drop its every candidate)
        joined = joined.where(
            F.coalesce(
                ~F.array_contains(F.col("_excl"), F.col("id")), F.lit(True)
            )
        )
    scored = joined.select(
        "query_id",
        "id",
        F.round(
            cosine_from_parts(
                dot(F.col("_cv"), F.col("_qv")), F.col("_cn"), F.col("_qn")
            ),
            6,
        ).alias("score"),
    )
    if threshold is not None:
        scored = scored.where(F.col("score") >= threshold)
    scored = _partition_local_topk(
        scored, "query_id", F.col("score").desc(), F.col("id").asc(), k=k
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def hydrate(
    results: DataFrame,
    documents: DataFrame,
    id_col: str = "doc_id",
    columns: list[str] | None = None,
    snippet_query: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """J8 doc-detail hydration (src/lib.rs:478-491): join the (small) scored
    result set back to the documents table for display columns.

    The RESULT side is broadcast — it is k rows by construction — so the
    documents table is probed without a shuffle; with predicate pushdown the
    scan touches only row groups containing the ids.

    ``snippet_query`` appends a ``matched_snippet`` column — the context
    window around the first query hit that the reference attaches to every
    hydrated hybrid result (matched_snippets, src/hybrid.rs:337-353);
    NULL when the query does not occur in the document.
    """
    from ..functions.text import snippet

    if columns is not None:
        cols = [c for c in columns if c != id_col]
    else:
        cols = [c for c in documents.columns if c != id_col]
    need = list(cols)
    if snippet_query is not None and text_col not in need:
        need.append(text_col)
    # Outer-join build sides: Spark can never build-broadcast the
    # PRESERVED side (LeftOuter builds right, RightOuter builds left) —
    # the previous `docs RIGHT OUTER broadcast(results)` hinted the
    # preserved side, so the hint was silently dropped and the
    # documents table sort-merge SHUFFLED on every hydrate (the exact
    # degradation this comment claimed to prevent; HintErrorLogger
    # confirms). Two legal broadcast joins instead: semi-gate documents
    # by the broadcast result ids (LeftSemi builds right — a pruned
    # corpus probe), then LEFT-join the k-row slice back (LeftOuter
    # builds right; the slice is k rows). Result rows whose id is
    # missing from documents keep NULL doc columns, as before.
    probe = documents.select(id_col, *need).join(
        F.broadcast(results.select(id_col)), id_col, "left_semi"
    )
    out = results.join(F.broadcast(probe), id_col, "left")
    if snippet_query is not None:
        out = out.withColumn(
            "matched_snippet", snippet(F.col(text_col), snippet_query)
        )
        if text_col not in cols:
            out = out.drop(text_col)
    return out


def similarity_threshold_scan(
    df: DataFrame,
    query_vector: Sequence[float],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All rows with cosine >= threshold (reference P11, src/storage.rs:313-317).
    Pure scan+filter — Catalyst pushes the predicate below any later project."""
    v = to_double_array(vec_col)
    return df.select(
        F.col(id_col), F.round(cosine_vs_query(v, query_vector), 6).alias("score")
    ).where(F.col("score") >= threshold)


def _partition_local_topk(df: DataFrame, group_col: str, *order, k: int) -> DataFrame:
    """Exact two-stage top-k pre-reduction: keep each input partition's
    local top-k per group before the global per-group window. The global
    top-k is a subset of the union of partition-local top-ks, so the
    final ranking is unchanged — but the global window now sorts at most
    k * n_partitions rows per group instead of the full candidate set,
    so a popular group can never pin one task with a corpus-sized sort.
    The pre-stage shuffles on (group, input-partition) — keys spread
    evenly across the cluster by construction."""
    pre = Window.partitionBy(group_col, "_pid").orderBy(*order)
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_pr", F.row_number().over(pre))
        .where(F.col("_pr") <= k)
        .drop("_pid", "_pr")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the ``k`` most cosine-similar corpus vectors carrying a
    DIFFERENT label (the "hard" negatives — close in embedding space,
    wrong in class). The corpus is scanned once against the broadcast
    anchor set; the top-k is TWO-STAGE: a per-(anchor, input-partition)
    pre-reduction caps every candidate stream at k rows per scan
    partition BEFORE the global per-anchor window, so the final window
    sorts at most k * n_partitions rows per anchor — never a full scored
    corpus copy in one task. Output:
    (anchor_id, anchor_label, vec_id, label, score, rank).
    """
    qv = to_double_array(vec_col)
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            qv.alias("_qv"),
            l2_norm(qv).alias("_qn"),
            F.col(label_col).alias("anchor_label"),
        )
    )
    cv = to_double_array(vec_col)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        cv.alias("_cv"),
        l2_norm(cv).alias("_cn"),
        F.col(label_col).alias("label"),
    )
    scored = (
        c.crossJoin(a)
        .where(
            (F.col("label") != F.col("anchor_label"))
            & (F.col("vec_id") != F.col("anchor_id"))
        )
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(
                cosine_from_parts(
                    dot(F.col("_cv"), F.col("_qv")), F.col("_cn"), F.col("_qn")
                ),
                6,
            ).alias("score"),
        )
    )
    scored = _partition_local_topk(
        scored, "anchor_id", F.col("score").desc(), F.col("vec_id").asc(), k=k
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def knn_label_vote(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label prediction over the embedding table (the classic
    embedding-quality probe): each anchor is classified by the majority
    label of its ``k`` nearest neighbors (cosine, self excluded); ties
    break to the smallest label. Output:
    (vec_id, true_label, pred_label, n_votes).

    Scale: broadcast anchors x one corpus scan; the neighbor top-k is
    the same two-stage reduction as hard_negatives (per-partition cap,
    then a bounded global window), and the vote count is a map-side-
    combined groupBy over at most k rows per anchor.
    """
    qv = to_double_array(vec_col)
    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            qv.alias("_qv"),
            l2_norm(qv).alias("_qn"),
            F.col(label_col).alias("true_label"),
        )
    )
    cv = to_double_array(vec_col)
    c = corpus.select(
        F.col(id_col).alias("nbr_id"),
        cv.alias("_cv"),
        l2_norm(cv).alias("_cn"),
        F.col(label_col).alias("nbr_label"),
    )
    scored = (
        c.crossJoin(a)
        .where(F.col("nbr_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "true_label",
            "nbr_id",
            "nbr_label",
            F.round(
                cosine_from_parts(
                    dot(F.col("_cv"), F.col("_qv")), F.col("_cn"), F.col("_qn")
                ),
                6,
            ).alias("score"),
        )
    )
    scored = _partition_local_topk(
        scored, "anchor_id", F.col("score").desc(), F.col("nbr_id").asc(), k=k
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    # unlabeled neighbors do not vote (the hard_negatives rule — its
    # label != anchor predicate drops NULLs too): a NULL-label vote
    # group would otherwise WIN ties, because the tie-break's nbr_label
    # ASC sorts NULL first (Spark NULLS FIRST) — an unlabeled "class"
    # beating a real one
    votes = (
        topk.where(F.col("nbr_label").isNotNull())
        .groupBy("anchor_id", "true_label", "nbr_label")
        .agg(F.count("*").alias("n_votes"))
    )
    wv = Window.partitionBy("anchor_id").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label").asc()
    )
    return (
        votes.withColumn("_r", F.row_number().over(wv))
        .where(F.col("_r") == 1)
        .select(
            F.col("anchor_id").alias(id_col),
            "true_label",
            F.col("nbr_label").alias("pred_label"),
            "n_votes",
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    group_col: str = "query_id",
    id_col: str = "id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified rerank (Carbonell &
    Goldstein, SIGIR 1998): greedily pick the candidate maximizing
    ``lam * relevance - (1 - lam) * max cosine to already-picked`` —
    the standard diversity pass a retrieval stack runs AFTER dense /
    hybrid retrieval (the reference stops at fusion, src/hybrid.rs;
    MMR extends that surface).

    Scale shape: ``candidates`` is the OVER-FETCHED result table —
    bounded rows per query by construction (<= the 2k over-fetch cap,
    §2.6) — so the O(n^2) greedy kernel runs per query group inside
    one ``applyInPandas`` task while the parallelism axis is the
    NUMBER of queries: 1 query or 10M queries shuffle exactly once on
    ``group_col`` and fan out across the cluster. No driver collect.

    Determinism / oracle parity: relevance comes in 6-dp rounded (knn
    convention), pairwise cosines are rounded to 6 dp BEFORE the
    greedy loop, and every mmr value is rounded to 6 dp — so the
    argmax sequence is reproducible bit-for-bit by the DuckDB
    recursive-CTE oracle on the same rounded values. Ties break on
    smallest id.

    Returns (group_col, id_col, mmr double, rank int) — rank is the
    1-based pick order.
    """
    import numpy as np
    import pandas as pd

    group_field = candidates.schema[group_col]
    id_field = candidates.schema[id_col]
    out_schema = (
        f"{group_col} {group_field.dataType.simpleString()}, "
        f"{id_col} {id_field.dataType.simpleString()}, "
        "mmr double, rank int"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # a NULL candidate score arrives as NaN: NaN relevance makes
        # every mmr NaN, the tied-index scan comes back empty, and
        # np.argmin raises — crashing the whole stage over one bad
        # caller row. Unscored candidates simply don't compete.
        pdf = pdf[pdf[score_col].notna()]
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                {group_col: [], id_col: [], "mmr": [], "rank": []}
            )
        X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0.0] = 1.0
        S = np.round((X @ X.T) / np.outer(norms, norms), 6)
        rel = np.round(pdf[score_col].to_numpy(np.float64), 6)
        ids = pdf[id_col].to_numpy()
        picked: list[int] = []
        scores: list[float] = []
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if picked:
                div = S[:, picked].max(axis=1)
            else:
                div = np.zeros(n)
            mmr = np.round(lam * rel - (1.0 - lam) * div, 6)
            mmr_masked = np.where(avail, mmr, -np.inf)
            best = mmr_masked.max()
            # ties -> smallest id (rows are id-sorted within equal rel,
            # but equal mmr can span rel values, so resolve explicitly)
            tied = np.flatnonzero(mmr_masked == best)
            j = tied[np.argmin(ids[tied])]
            picked.append(int(j))
            scores.append(float(mmr[j]))
            avail[j] = False
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[picked].to_numpy(),
                id_col: ids[picked],
                "mmr": scores,
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
            }
        )

    return candidates.groupBy(group_col).applyInPandas(kernel, out_schema)


def matryoshka_search(
    corpus: DataFrame,
    query_vector: Sequence[float],
    dims: int = 16,
    k: int = 10,
    rescore: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL, arXiv:2205.13147) two-stage serving: stage 1
    scores the corpus on cosine over the FIRST ``dims`` components only
    (cosine over slices is self-normalizing, so no stored-norm table is
    needed), keeps the ``rescore`` best candidates, and stage 2 re-scores
    just those on the full vector.

    Scale shape: the stage-1 scan folds over ``dims`` elements instead of
    the full dimension — per-row cost shrinks proportionally — and ends
    in a TakeOrderedAndProject (zero shuffle). Stage 2 broadcasts the
    ``rescore``-row candidate list back against the corpus, so the full
    vectors of only those rows are touched. Mirrors
    quantization.two_stage_search's budget-capped shape with the prefix
    slice as the coarse code.

    Returns (id, score, approx_score) — exact full-dim cosine plus the
    stage-1 prefix cosine, both 6-dp rounded.
    """
    if len(query_vector) < dims:
        # a shorter query would zip-pad NULLs into the prefix dot, fold
        # to NULL, coalesce to 0.0 — every approx_score identical and
        # stage 1 silently selecting the lowest ids
        raise ValueError(
            f"query_vector has {len(query_vector)} dims < prefix dims={dims}"
        )
    if rescore < k:
        # stage 1 keeps only `rescore` candidates, so the final
        # limit(k) would silently return rescore rows — under-filling
        # callers (fusion over-fetch budgets) with no warning
        raise ValueError(f"rescore={rescore} must be >= k={k}")
    v = to_double_array(vec_col)
    prefix = F.slice(v, 1, dims)
    q_prefix = [float(x) for x in query_vector[:dims]]
    stage1 = (
        corpus.select(
            F.col(id_col),
            F.round(cosine_vs_query(prefix, q_prefix), 6).alias("approx_score"),
        )
        .orderBy(F.col("approx_score").desc(), F.col(id_col).asc())
        .limit(rescore)
    )
    # join FIRST, score after: with the cosine below the join the
    # full-dim fold would run for every corpus row before probing the
    # hash table, erasing stage 1's saving (the pq_search shape)
    hydrated = corpus.select(F.col(id_col), v.alias("_v")).join(
        F.broadcast(stage1), id_col
    )
    rescored = hydrated.select(
        F.col(id_col),
        F.round(cosine_vs_query(F.col("_v"), query_vector), 6).alias("score"),
        "approx_score",
    )
    return rescored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)


def maxsim_search(
    chunk_emb: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR 2020): documents are MULTI-vector (one embedding per chunk /
    token block) and score(doc) = Σ_q max_chunk cos(chunk, q) — the
    max-similarity ("MaxSim") operator that preserves term-level
    matching that single-vector pooling blurs.

    Scale shape: the query vectors are literals folded into the chunk
    scan (narrow — no join), so the chunk table is scanned ONCE for all
    query vectors; the per-doc max-per-query and the final sum ride a
    single map-side-combined groupBy(doc). One shuffle total,
    proportional to docs × n_query_vectors partial rows, then
    TakeOrderedAndProject for the top-k.
    """
    if not query_vecs:
        raise ValueError("query_vecs must contain at least one vector")
    v = to_double_array(vec_col)
    cos_cols = [
        F.round(cosine_vs_query(v, q), 6).alias(f"_c{i}")
        for i, q in enumerate(query_vecs)
    ]
    scored = chunk_emb.select(F.col(id_col).alias("doc_id"), *cos_cols)
    maxes = scored.groupBy("doc_id").agg(
        *[F.max(f"_c{i}").alias(f"_m{i}") for i in range(len(query_vecs))]
    )
    total = None
    for i in range(len(query_vecs)):
        c = F.col(f"_m{i}")
        total = c if total is None else total + c
    return (
        maxes.select("doc_id", F.round(total, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def margin_mine(
    x_emb: DataFrame,
    y_emb: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.0,
    x_id: str = "vec_id",
    y_id: str = "vec_id",
    vec_col: str = "embedding",
    materialize: str = "none",
) -> DataFrame:
    """Margin-based pair mining (Artetxe & Schwenk, ACL 2019 — the
    standard bitext-mining criterion behind CCMatrix/LASER-mined
    parallel corpora): for every x in ``x_emb``, the best-margin y in
    ``y_emb``, where

        margin(x, y) = cos(x, y) / ((meanK_x + meanK_y) / 2)

    with meanK_x = mean of x's top-``k`` cosines over Y and meanK_y =
    mean of y's top-``k`` cosines over X — raw cosine divided by the
    average of both neighborhoods' density, which suppresses hub
    vectors that score high against EVERYTHING. Returns
    ``(x_id, y_id, cosine, margin)``; rows with margin below
    ``margin_threshold`` (1.0 = "closer than the neighborhoods") drop.

    Engine determinism: cosines, the two k-NN means, and the margin are
    each rounded to 6 dp, and the per-x argmax orders by (ROUNDED
    margin desc, y_id asc) — so the winning pair never depends on
    sub-6dp float noise that could differ across engines.

    Scale shape: the score table is |X| x |Y| — this exact form is for
    an X that fits a broadcast (a mining WAVE; the 100 TB corpus is the
    Y side). The scored stream feeds THREE consumers (per-xid top-k,
    per-yid top-k, the margin join), so without materialization the
    Y-side scan and cosine arithmetic run ~3x. ``materialize`` picks the
    trade, mirroring rank.global_row_number: ``"none"`` (default) —
    recompute; the safe choice when |X| x |Y| is too big to hold (the
    corpus-wave case: 3 scans beat spilling a trillion-row score table);
    ``"persist"`` — lineage-kept cache, right when the wave's score
    table fits memory/disk and released by the ContextCleaner when the
    result is dropped; ``"local_checkpoint"`` — fastest locally,
    non-replayable on executor loss. For corpus-x-corpus mining, run
    waves of X, or prefilter candidate pairs with the ANN tier
    (ann.random_projection_tables / ivf_search) and compute the margin
    only on candidates — the criterion itself is unchanged.
    """
    xv = to_double_array(vec_col)
    x = F.broadcast(
        x_emb.select(
            F.col(x_id).alias("xid"), xv.alias("_xv"),
            l2_norm(xv).alias("_xn"),
        )
    )
    y = y_emb.select(
        F.col(y_id).alias("yid"), xv.alias("_yv"),
        l2_norm(xv).alias("_yn"),
    )
    s = y.crossJoin(x).select(
        "xid",
        "yid",
        F.round(
            cosine_from_parts(
                dot(F.col("_xv"), F.col("_yv")),
                F.col("_xn"),
                F.col("_yn"),
            ),
            6,
        ).alias("cosine"),
    )
    if materialize == "persist":
        s = s.persist()
    elif materialize == "local_checkpoint":
        s = s.localCheckpoint(eager=True)
    elif materialize != "none":
        raise ValueError(
            "materialize must be 'none', 'persist', or 'local_checkpoint',"
            f" got {materialize!r}"
        )
    # both k-NN means go through the partition-local top-k pre-reduction:
    # a bare per-xid window would hold the whole |Y|-sized scored stream
    # for one x in ONE task (and vice versa for y)
    wx = Window.partitionBy("xid").orderBy(
        F.col("cosine").desc(), F.col("yid").asc()
    )
    nnx = (
        _partition_local_topk(
            s, "xid", F.col("cosine").desc(), F.col("yid").asc(), k=k
        )
        .withColumn("_rk", F.row_number().over(wx))
        .where(F.col("_rk") <= k)
        .groupBy("xid")
        .agg(F.round(F.avg("cosine"), 6).alias("_mx"))
    )
    wy = Window.partitionBy("yid").orderBy(
        F.col("cosine").desc(), F.col("xid").asc()
    )
    nny = (
        _partition_local_topk(
            s, "yid", F.col("cosine").desc(), F.col("xid").asc(), k=k
        )
        .withColumn("_rk", F.row_number().over(wy))
        .where(F.col("_rk") <= k)
        .groupBy("yid")
        .agg(F.round(F.avg("cosine"), 6).alias("_my"))
    )
    m = (
        # nnx is one row per xid and X is the WAVE side (already a
        # broadcast above), so the per-x means are wave-bounded — the
        # hint replaces an SMJ whose build side the planner could not
        # size (no stats through the window chain). nny is CORPUS-sized:
        # its shuffle join is the honest at-scale shape and stays.
        s.join(F.broadcast(nnx), "xid")
        .join(nny, "yid")
        .select(
            "xid",
            "yid",
            "cosine",
            F.round(
                F.col("cosine") / ((F.col("_mx") + F.col("_my")) / 2.0), 6
            ).alias("margin"),
        )
    )
    best = Window.partitionBy("xid").orderBy(
        F.col("margin").desc(), F.col("yid").asc()
    )
    return (
        m.withColumn("_rk", F.row_number().over(best))
        .where((F.col("_rk") == 1) & (F.col("margin") >= margin_threshold))
        .select("xid", "yid", "cosine", "margin")
    )


def discover(
    df: DataFrame,
    target_id: int,
    context_pairs: Sequence[tuple[int, int]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    examples_df: DataFrame | None = None,
) -> DataFrame:
    """Discovery search (the public Qdrant discover-API shape; capability
    ADDITION — the reference is query-vector-only): steer a target-vector
    search with (positive, negative) example PAIRS. Each pair casts one
    vote per candidate — 1 when the candidate sits closer to the pair's
    positive than its negative — and candidates rank by votes first,
    target cosine second. Votes dominate, so a pair can veto a
    high-similarity candidate that lands on the wrong side of a
    preference boundary; the target only orders within a vote class.

    Exact contract (engine-reproducible): each cosine is 6-dp rounded
    before the > compare and before the tiebreak sort; all example /
    target ids are excluded from results; ties break on id asc.

    Scale shape: every example vector folds into the scan as a literal
    (a 2·len(pairs)+1 × dim driver artifact — the recommend contract),
    so the plan is ONE narrow corpus scan ending in
    TakeOrderedAndProject: zero shuffles at any corpus size.

    ``examples_df`` (default: ``df``) is where example ids resolve — a
    facade passes the full corpus here while ``df`` is the filtered
    candidate set, so pairs may reference excluded examples.
    """
    if not context_pairs:
        raise ValueError("at least one (positive, negative) pair is required")
    pairs = [(int(p), int(n)) for p, n in context_pairs]
    ex_ids = sorted({target_id, *[i for pr in pairs for i in pr]})
    src = examples_df if examples_df is not None else df
    rows = {
        r[id_col]: [float(x) for x in r[vec_col]]
        for r in src.where(F.col(id_col).isin(ex_ids)).collect()
    }
    missing = [i for i in ex_ids if i not in rows]
    if missing:
        raise KeyError(f"example ids not found: {missing}")
    v = to_double_array(vec_col)

    def c(vec):
        return F.round(cosine_vs_query(v, vec), 6)

    votes = None
    for p, n in pairs:
        vote = F.when(c(rows[p]) > c(rows[n]), F.lit(1)).otherwise(F.lit(0))
        votes = vote if votes is None else votes + vote
    return (
        df.where(~F.col(id_col).isin(ex_ids))
        .select(
            F.col(id_col),
            votes.cast("int").alias("votes"),
            c(rows[int(target_id)]).alias("score"),
        )
        .orderBy(
            F.col("votes").desc(), F.col("score").desc(), F.col(id_col).asc()
        )
        .limit(k)
    )


def context_rank(
    df: DataFrame,
    context_pairs: Sequence[tuple[int, int]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    examples_df: DataFrame | None = None,
) -> DataFrame:
    """Context search (discover's target-less sibling): rank purely by
    how well a candidate satisfies the preference pairs. Per pair the
    penalty is 0 when the candidate is on the positive side, else
    -(n-p)² — quadratic in how far onto the negative side it sits — and
    score = 6-dp-rounded Σ penalties (0.0 is perfect). Candidates inside
    the zero-penalty region tie at 0.0 and break on id asc: the operator
    finds the REGION the pairs carve out, not a nearest point.

    Same exact-replay discipline and scan shape as :func:`discover`:
    p and n are 6-dp rounded before the compare/subtract, the penalty
    chain is a fixed-order sum of literal-folded expressions, one narrow
    scan, TakeOrderedAndProject, zero shuffles. ``examples_df``: see
    :func:`discover`.
    """
    if not context_pairs:
        raise ValueError("at least one (positive, negative) pair is required")
    pairs = [(int(p), int(n)) for p, n in context_pairs]
    ex_ids = sorted({i for pr in pairs for i in pr})
    src = examples_df if examples_df is not None else df
    rows = {
        r[id_col]: [float(x) for x in r[vec_col]]
        for r in src.where(F.col(id_col).isin(ex_ids)).collect()
    }
    missing = [i for i in ex_ids if i not in rows]
    if missing:
        raise KeyError(f"example ids not found: {missing}")
    v = to_double_array(vec_col)

    def c(vec):
        return F.round(cosine_vs_query(v, vec), 6)

    total = None
    for p, n in pairs:
        pc, nc = c(rows[p]), c(rows[n])
        pen = F.when(pc > nc, F.lit(0.0)).otherwise(-(nc - pc) * (nc - pc))
        total = pen if total is None else total + pen
    return (
        df.where(~F.col(id_col).isin(ex_ids))
        .select(F.col(id_col), F.round(total, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def distance_matrix(
    df: DataFrame,
    sample: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bounded pairwise-similarity matrix (the vector-store
    distance-matrix API that feeds driver-side clustering /
    visualization): the ``sample`` LOWEST ids (deterministic — no RNG in
    the oracle path), all unordered pairs among them, exact cosine.
    Returns (id_a, id_b, cosine) with id_a < id_b.

    Scale shape: the sample cap bounds the quadratic explicitly —
    sample² pairs regardless of corpus size. The sampled slice is tiny
    by contract, so both join sides broadcast; the corpus is touched
    only by the TakeOrdered sample selection (one narrow scan, zero
    shuffle), never by the pair join.
    """
    if sample < 2:
        raise ValueError("sample must be >= 2")
    v = to_double_array(vec_col)
    picked = (
        df.select(F.col(id_col), v.alias("_v"))
        .orderBy(F.col(id_col).asc())
        .limit(sample)
    )
    a = picked.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    b = picked.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    pairs = F.broadcast(a).join(
        F.broadcast(b), F.col("id_a") < F.col("id_b"), "inner"
    )

    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            cosine_from_parts(
                dot(F.col("_va"), F.col("_vb")),
                l2_norm(F.col("_va")),
                l2_norm(F.col("_vb")),
            ),
            6,
        ).alias("cosine"),
    ).orderBy("id_a", "id_b")
