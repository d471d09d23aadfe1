"""Approximate nearest-neighbor index builds (reference J2/J3, S13).

The reference ships HNSW (graph ANN, src/index.rs:91-231) and FAISS-style
IVF-Flat/IVF-PQ (src/index.rs:312-683). Graph ANN is pointer-chasing and
insert-order-dependent — wrong shape for DataFrames (SURVEY §7). The
Spark-native scale path is **index tables**:

- **IVF**: k-means centroids (small table, broadcast) + an assignment table
  ``(id, cluster)`` partitioned by cluster. Query: score the query against
  the centroid table (tiny), take the ``nprobe`` nearest clusters, scan
  ONLY those partitions' vectors, exact-rescore. At 100 TB with nlist=4096
  and nprobe=64, the scan touches ~1.6% of the corpus, and writing the
  assignment table partitioned-by-cluster makes that partition pruning —
  a parquet-level skip, not a filter.
- **Random-projection LSH buckets**: sign-bit buckets over D' fixed
  hyperplanes (deterministic seeded projections). Bucket-equality join
  prunes candidate pairs for near-dup / similarity self-join.

k-means here is Lloyd's with a deterministic, scale-safe k-means++ init
(the reference uses stride init, src/index.rs:429-443; we seed from a
bounded hash-ordered sample instead — same determinism guarantee, far
better centroid spread, and no global sort: the sample is a
per-partition top-N by xxhash64(id), never a whole-corpus window) and a
fixed iteration count, implemented as DataFrame jobs. We use our own
loop rather than pyspark.ml.KMeans because determinism across
engines/runs is a correctness-gate requirement; pyspark.ml remains a
drop-in for production use.

Index persistence (reference S13) = writing the centroid/assignment/bucket
tables as parquet; loading = reading them.
"""

from __future__ import annotations

import hashlib
import heapq
import math
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.vector import (
    cosine_from_parts,
    cosine_similarity,
    dot,
    l2_norm,
    to_double_array,
    vector_lit,
)
from .dedup import _block_gemm, _cosine_matrix, _require_integer_ids
from .search import cosine_vs_query


# kmeans_fit driver-side bounds: the init sample never exceeds this many
# collected vectors, and the O(k * sample * dim) k-means++ D^2 loop only
# runs under this flop budget (~seconds of numpy) — past it, init falls
# back to the hash-spread sample head (see kmeans_fit)
_KMEANS_SAMPLE_CAP = 131_072
_KMEANSPP_FLOP_BUDGET = 2_000_000_000


def _sampled_matrix(src: DataFrame, size: int) -> "np.ndarray":
    """Bounded deterministic sample of vectors as an (s, dim) numpy matrix.

    The sample is the ``size`` rows with the smallest xxhash64(id) — a
    per-partition top-N merged on the driver (TakeOrderedAndProject), so
    it NEVER funnels the corpus through one task the way a global
    row_number window does (the r1 scale bug, VERDICT r1 item 1). The
    hash order is deterministic for any partitioning of the same ids.
    """
    rows = (
        src.select("id", "v")
        .orderBy(F.xxhash64(F.col("id")).asc(), F.col("id").asc())
        .limit(size)
        .collect()
    )
    return np.asarray([list(r["v"]) for r in rows], dtype=np.float64)


def _kmeanspp_init(S: "np.ndarray", k: int, seed: int = 13) -> "np.ndarray":
    """Seeded k-means++ (D^2 sampling) over an in-memory sample — (k, dim).

    Deterministic given (sample, k, seed). Much better spread than stride
    init: the reference's own docs flag its 17% recall and recommend
    better seeding (docs/week5-6-binary-quantization.md:200).
    """
    rng = np.random.default_rng(seed)
    first = int(rng.integers(len(S)))
    cents = [S[first]]
    d2 = ((S - cents[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        tot = float(d2.sum())
        if tot <= 0.0:
            idx = int(rng.integers(len(S)))
        else:
            idx = int(rng.choice(len(S), p=d2 / tot))
        cents.append(S[idx])
        d2 = np.minimum(d2, ((S - S[idx]) ** 2).sum(axis=1))
    return np.asarray(cents, dtype=np.float64)


def _dim_of(df: DataFrame, vec_col) -> int:
    """Element count of the vector column from the first row; a clear
    ValueError on an empty input (head() returns None) instead of an
    opaque NoneType subscript."""
    row = df.select(F.size(vec_col).alias("d")).head()
    if row is None:
        raise ValueError("empty input")
    return row["d"]


def kmeans_fit(
    df: DataFrame,
    k: int,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """Deterministic Lloyd's k-means -> centroid DataFrame (cluster, centroid).

    Init: seeded k-means++ over a bounded hash-ordered sample (see
    _sampled_matrix / _kmeanspp_init — no global-window sort, unlike the
    reference's stride init src/index.rs:429-443 which we replaced for
    both scale and recall). Each iteration: one Arrow-batched scan emits
    per-partition partial sums; the driver finishes the means. Empty
    clusters keep their previous centroid (reference keeps stale
    centroids too).
    """
    spark = df.sparkSession
    src = df.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).persist()
    n = src.count()
    if n == 0:
        raise ValueError("empty input")
    k = min(k, n)
    # the driver sample is k-proportional (k*32) but CAPPED: autosized
    # nlist grows as sqrt(n), and at 1e9 rows (nlist=31623) an uncapped
    # sample collects ~1M vectors (multi-GB of Python lists) to the
    # driver; the cap never drops below k so init always has k distinct
    # candidates
    S = _sampled_matrix(
        src, min(max(k * 32, 512), max(_KMEANS_SAMPLE_CAP, k))
    )
    if k * S.shape[0] * S.shape[1] <= _KMEANSPP_FLOP_BUDGET:
        init = _kmeanspp_init(S, k, seed)
    else:
        # k-means++'s D^2 loop is O(k * sample * dim) SINGLE-THREADED
        # driver flops — at autosized-for-1e9 sizes that is ~1e13 flops
        # (hours on the driver). Past the budget, init from the first k
        # rows of the hash-ordered sample: the sample IS a deterministic
        # uniform shuffle (smallest-xxhash rows), so this is seeded
        # random init at zero cost, and the DISTRIBUTED Lloyd
        # iterations do the refinement the init skipped.
        init = S[:k]
    cents_py: dict[int, list[float]] = {
        c: list(v) for c, v in enumerate(init)
    }
    dim = len(next(iter(cents_py.values())))

    # Lloyd's loop: centroids live on the driver (k x dim doubles — tiny by
    # construction, this is how distributed k-means is always shaped). One
    # Arrow-batched scan per iteration emits per-partition partial sums
    # (cluster, count, sum) — at most partitions*k tiny rows — and the
    # driver finishes the mean. No shuffle at all per iteration.
    for _ in range(max_iter):
        partials = _kmeans_partials(src, cents_py).collect()
        sums: dict[int, tuple[int, list[float]]] = {}
        for r in partials:
            cnt, s = sums.get(r["cluster"], (0, [0.0] * dim))
            sums[r["cluster"]] = (cnt + r["cnt"], [a + b for a, b in zip(s, r["s"])])
        for c, (cnt, s) in sums.items():  # empty clusters keep old centroid
            if cnt > 0:
                cents_py[c] = [x / cnt for x in s]
    # src is training-internal (the centroids are driver literals now) —
    # release the cache blocks; CacheManager entries do NOT free on GC
    src.unpersist()
    return spark.createDataFrame(
        sorted(cents_py.items()), "cluster int, centroid array<double>"
    )


def _kmeans_partials(src: DataFrame, cents_py: dict[int, list[float]]) -> DataFrame:
    """One Lloyd iteration's map side: per-batch (cluster, cnt, sum-vector)."""
    clusters = sorted(cents_py)
    C = np.asarray([cents_py[c] for c in clusters], dtype=np.float64)
    cnorm = (C * C).sum(axis=1)
    cluster_ids = np.asarray(clusters)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(list(pdf["v"]), dtype=np.float64)
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cnorm[None, :]
            a = cluster_ids[np.argmin(d, axis=1)]
            out = {"cluster": [], "cnt": [], "s": []}
            for c in np.unique(a):
                mask = a == c
                out["cluster"].append(int(c))
                out["cnt"].append(int(mask.sum()))
                out["s"].append(V[mask].sum(axis=0))
            yield pd.DataFrame(out)

    return src.mapInPandas(run, "cluster int, cnt long, s array<double>")


def _assign_literal(
    src: DataFrame, cents_py: dict[int, list[float]], replicas: int = 1
) -> DataFrame:
    """Assign each vector (id, v) to its nearest centroid via an
    Arrow-batched numpy argmin (BLAS matmul per batch).

    This is the one place the JVM expression kit loses: an interpreted
    per-centroid fold costs ~1us/element while the batched
    ``|v|^2 - 2 v.C^T + |C|^2`` matmul is vectorized — ~20x faster at
    nlist=8, more at real nlist. Ties resolve to the lowest cluster id
    (np.argmin first-match), matching the expression variant. Centroids
    ride the closure (k x dim doubles — tiny) so there is no join at all.

    ``replicas > 1`` emits one row per vector per its ``replicas`` nearest
    cells — SPANN-style boundary replication (Chen et al., NeurIPS 2021):
    vectors near a cell boundary are findable from either side, trading
    ``replicas``x posting-list storage for recall at fixed nprobe.
    """
    _require_integer_ids(src, ["id"], "IVF assignment")
    if replicas < 1:
        # a silent min(replicas, nlist) of 0 would emit an EMPTY
        # assignment per batch — the build "succeeds" with an empty
        # posting table and every later search finds nothing
        raise ValueError(f"replicas must be >= 1, got {replicas}")
    clusters = sorted(cents_py)
    C = np.asarray([cents_py[c] for c in clusters], dtype=np.float64)
    cnorm = (C * C).sum(axis=1)
    cluster_ids = np.asarray(clusters)
    r = min(replicas, len(clusters))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            V = np.asarray(list(pdf["v"]), dtype=np.float64)
            if len(V) == 0:
                yield pd.DataFrame({"id": [], "v": [], "cluster": []})
                continue
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cnorm[None, :]
            if r == 1:
                pdf = pdf.copy()
                pdf["cluster"] = cluster_ids[np.argmin(d, axis=1)]
                yield pdf
            else:
                # top-r cells per row by the FULL (distance, cluster id)
                # order: argpartition's arbitrary pick among equal
                # distances at the r-th boundary would make the stored
                # replica set non-reproducible across engines on exact
                # ties, so sort all columns with the id tie-break and
                # take the first r (nlist columns — same cost class)
                cols = np.broadcast_to(np.arange(d.shape[1]), d.shape)
                near = np.lexsort((cols, d), axis=1)[:, :r]
                yield pd.DataFrame(
                    {
                        "id": np.repeat(pdf["id"].to_numpy(), r),
                        "v": [v for v in pdf["v"] for _ in range(r)],
                        "cluster": cluster_ids[near.reshape(-1)],
                    }
                )

    return src.mapInPandas(run, "id long, v array<double>, cluster int")


def _cent_map_lit(cents_py: dict[int, list[float]]):
    """MAP literal cluster-id -> centroid for the residual subtraction:
    the lookup must key by the ACTUAL cluster id — the previous dense
    ARRAY literal indexed by position, which silently subtracts the
    wrong (or null) centroid whenever cluster ids are non-contiguous
    (an externally trained/loaded centroid table, a dropped empty
    cell), poisoning every residual code the ADC search then reads."""
    from ..functions.vector import array_lit_sql

    ks = sorted(cents_py)
    # one parsed SQL literal instead of nlist x dim py4j F.lit calls
    # (the vector_lit rationale — pure driver latency per query build)
    keys = ", ".join(str(int(k)) for k in ks)
    vals = ", ".join(array_lit_sql(cents_py[k]) for k in ks)
    return F.expr(f"map_from_arrays(array({keys}), array({vals}))")


def ivf_autosize(
    n: int,
    target_scan_fraction: float = 0.0625,
    min_nlist: int = 4,
    max_nlist: int = 65536,
) -> tuple[int, int]:
    """(nlist, nprobe) sized to the corpus — the IVF analogue of
    ``dedup.lsh_autosize_planes`` (the sizing discipline that fixed
    RP-LSH at sf1): ``nlist ≈ sqrt(n)`` balances the two costs a probe
    pays — ranking nlist centroids vs scanning n/nlist vectors per
    probed cell — and ``nprobe = ceil(target_scan_fraction * nlist)``
    pins the expected scanned fraction of the corpus CONSTANT as n
    grows (fixed nprobe at growing nlist silently decays recall; fixed
    scan fraction keeps the recall/cost point). Defaults: 6.25 % scan —
    the fraction the sf0.1 recall table's best IVF row (replicas=2
    nprobe=8 of nlist=16 => 0.95 R@10 before replication) actually
    scans per table. Pins the sizing test checks: 1e4 -> (100, 7),
    2e4 -> (141, 9), 1e9 -> (31623, 1977)."""
    nlist = int(round(math.sqrt(max(n, 1))))
    nlist = max(min_nlist, min(max_nlist, nlist))
    nprobe = max(1, min(nlist, math.ceil(target_scan_fraction * nlist)))
    return nlist, nprobe


def ivfpq_autosize_rescore(
    n: int,
    nlist: int,
    nprobe: int,
    replicas: int = 1,
    k: int = 10,
    fraction: float = 0.1,
    max_rescore: int = 2000,
) -> int:
    """Exact-rescore depth for :func:`ivfpq_search` / :func:`pq_search`
    sized to the CANDIDATE VOLUME the probes produce — the third leg of
    the autosize family (ivf_autosize, graph_autosize). A fixed rescore
    silently decays recall as the corpus grows: the ADC approximation's
    rank noise is roughly a constant FRACTION of the candidate set, so
    the true neighbors sit within the top ~fraction of
    ``n * replicas * nprobe / nlist`` probed rows, not within a fixed
    200 (measured at sf1: rescore=200 -> R@10 0.73 min 0.40; autosized
    -> the RECALL.md row VERDICT r8 #6 demanded, >= 0.75 / >= 0.5).
    Floor 4k keeps tiny corpora exact; the cap bounds the rescore
    broadcast (max_rescore ids + vectors, KBs) at any corpus size —
    at the cap, raise nprobe or replicas rather than rescore (the cells,
    not the tail, carry recall). Sizing pins in test_planner_routes."""
    cand = max(n, 1) * max(replicas, 1) * max(nprobe, 1) / max(nlist, 1)
    return int(min(max_rescore, max(4 * k, math.ceil(fraction * cand))))


def graph_autosize(
    n: int, out_degree: int, k: int = 10,
    min_beam: int = 32, max_hops: int = 8,
) -> tuple[int, int]:
    """(beam, hops) sized to the corpus for :func:`graph_beam_search` —
    the graph analogue of :func:`ivf_autosize`. The walk must REACH a
    query's neighborhood from the fixed entry points before the beam
    can matter: a kNN graph of out-degree d has diameter ~log_d(n), so
    ``hops = ceil(ln n / ln d) + 1`` (the +1 is convergence slack once
    arrived). Fixed hops silently decay recall as the corpus grows —
    measured at sf1 (20k nodes, d=16): hops=3 -> R@10 0.57-0.73 at any
    beam, hops=4 -> 0.98, hops=5 -> 1.00 (min 1.00), all at beam 32.
    Beam is the ef-style recall lever ONCE reached: ``max(min_beam,
    3k)``. Pins the sizing test checks: (2e3, d=16, k=10) -> (32, 4);
    (2e4, d=16) -> (32, 5); (1e9, d=32) -> (32, 7)."""
    if n <= 1 or out_degree < 2:
        return max(min_beam, 3 * k), 2
    hops = math.ceil(math.log(n) / math.log(out_degree)) + 1
    return max(min_beam, 3 * k), max(2, min(max_hops, hops))


def ivf_build(
    df: DataFrame,
    nlist: int = 16,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vectors: bool = False,
    replicas: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Build IVF index tables: (centroids(cluster, centroid),
    assignments(id, cluster[, v])). Persist both as parquet for reuse;
    write the assignment side ``partitionBy('cluster')`` in production so
    nprobe pruning is partition pruning. ``include_vectors=True`` stores
    the vectors in the posting lists (the FAISS inverted-list layout), so
    ivf_search_pruned needs no join back to the corpus at all.
    ``replicas>1`` stores each vector in its ``replicas`` nearest cells
    (SPANN-style boundary replication) — recall at fixed nprobe rises
    sharply for replicas x storage; searches dedup by id. Non-integral
    ids raise before any job runs."""
    _require_integer_ids(df, [id_col], "ivf_build")
    cents = kmeans_fit(df, nlist, max_iter, id_col, vec_col)
    cents_py = {r["cluster"]: list(r["centroid"]) for r in cents.collect()}
    src = df.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    assigned = _assign_literal(src, cents_py, replicas)
    if not include_vectors:
        assigned = assigned.select("id", "cluster")
    return cents, assigned


def ivf_add(
    delta: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vectors: bool = False,
    replicas: int = 1,
) -> DataFrame:
    """Incremental IVF maintenance — the vector-db INSERT path
    (``VectorIndex::add_vector/add_vectors`` on a trained index,
    ref:src/index.rs:35-41): assign a batch of NEW vectors to the FROZEN
    trained centroids (no retrain) and return posting-list rows
    ``(id, cluster[, v])`` to append to the persisted assignment table.

    Assignment is a pure deterministic argmin over frozen centroids, so
    an index grown by ANY sequence of ivf_add batches is row-identical
    to a bulk ivf_build given the same centroids — the invariant the
    ``ivf_incremental`` registry query pins against a DuckDB replay.

    Scale shape: centroids ride the task closure (nlist x dim doubles —
    KBs), so an insert batch is ONE narrow Arrow-batched numpy pass over
    the delta — no join, no shuffle, cost O(batch) and independent of
    index size. At 100 TB the posting-list append is a partition-local
    parquet write per touched cluster (pair with a file-granular table
    format, such as delta segments, for commits). Retrain
    (``ivf_build``) only when drift accumulates — the ``optimize()``
    contract (ref:src/index.rs:55-56)."""
    cents_py = {r["cluster"]: list(r["centroid"]) for r in cents.collect()}
    src = delta.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    assigned = _assign_literal(src, cents_py, replicas)
    if not include_vectors:
        assigned = assigned.select("id", "cluster")
    return assigned


def ivf_remove(assigned: DataFrame, ids: DataFrame) -> DataFrame:
    """Incremental IVF delete (``VectorIndex::remove_vector``,
    ref:src/index.rs:46-47): drop the given ids' posting-list rows. A
    broadcast anti-join — the id batch is small by construction, the
    posting lists never shuffle; pair with a file-granular table format
    so only touched posting files rewrite."""
    dcol = ids.columns[0]
    return assigned.join(
        F.broadcast(ids.select(F.col(dcol).alias("id"))), "id", "left_anti"
    )


def pq_add(
    delta: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental PQ maintenance — encode a NEW batch against the
    FROZEN trained codebooks (``add_vectors`` on a trained quantizer,
    ref:src/index.rs:35-41; train-once-encode-many is the reference's
    quantization flow, ref:src/quantization.rs). One narrow Arrow pass,
    cost O(batch); codes are identical to what a bulk pq_build with the
    same codebooks would emit (the ``pq_add`` registry query pins it)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    src = delta.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    return _pq_encode(src, codebooks, m, sub)


def ivfpq_add(
    delta: DataFrame,
    cents: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replicas: int = 1,
) -> DataFrame:
    """Incremental IVF-PQ maintenance: assign the new batch to the
    frozen coarse centroids, subtract the cell centroid, and encode the
    RESIDUAL with the frozen codebooks — the exact bulk ivfpq_build
    pipeline minus training, so grown == built row-for-row. Still one
    narrow Arrow pass per stage (centroids and codebooks ride the task
    closure), no join, no shuffle."""
    cents_py = {r["cluster"]: list(r["centroid"]) for r in cents.collect()}
    src = delta.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    assigned_v = _assign_literal(src, cents_py, replicas)
    residuals = assigned_v.withColumn(
        "_cents", _cent_map_lit(cents_py)
    ).select(
        "id",
        "cluster",
        F.expr("zip_with(v, element_at(_cents, cluster), (x, c) -> x - c)").alias("v"),
    )
    m = len(codebooks)
    sub = len(codebooks[0][0])
    return _pq_encode(residuals.select("id", "cluster", "v"), codebooks, m, sub)


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine over two small lists (centroid ranking only)."""
    import math

    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return 0.0 if na == 0 or nb == 0 else d / (na * nb)


def _md5_coords(key_fmt: str, n: int, dim: int) -> list[list[float]]:
    """``n`` deterministic pseudo-random vectors in [-1, 1]^dim: coord
    (p, i) = md5(key_fmt.format(p=p, i=i)) first 8 hex digits mapped to
    [-1, 1]. The single source of the derive-don't-store plane/centroid
    family — fixed_centroids ('ivf:{seed}:{p}:{i}'), the RP-LSH buckets
    and rp_project ('{seed}:{p}:{i}') all draw from here, so the
    hash-to-coordinate mapping can never drift between them (each keeps
    its own keyspace via key_fmt; oracles inline the same literals)."""
    out = []
    for p_ in range(n):
        out.append(
            [
                (
                    int(
                        hashlib.md5(
                            key_fmt.format(p=p_, i=i).encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    / float(0xFFFFFFFF)
                )
                * 2.0
                - 1.0
                for i in range(dim)
            ]
        )
    return out


def fixed_centroids(nlist: int = 8, dim: int = 64, seed: int = 7) -> dict[int, list[float]]:
    """Deterministic pseudo-random centroid literals in [-1, 1]^dim,
    md5-derived exactly like random_projection_buckets' hyperplanes —
    reproducible in ANY engine, which makes an IVF-Flat search
    SQL-expressible (the DuckDB oracle inlines the same literals), giving
    J2/J3 a hash-checked correctness row instead of rows-only."""
    rows = _md5_coords(f"ivf:{seed}:{{p}}:{{i}}", nlist, dim)
    return {c: coords for c, coords in enumerate(rows)}


def ivf_build_fixed(
    df: DataFrame,
    cents_py: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vectors: bool = True,
    replicas: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """ivf_build with externally-supplied centroid literals (no k-means) —
    one narrow Arrow-batched assignment scan. Pairs with save_index +
    ivf_search_pruned for a fully deterministic, SQL-checkable persisted
    IVF layout."""
    spark = df.sparkSession
    cents = spark.createDataFrame(
        sorted((c, [float(x) for x in v]) for c, v in cents_py.items()),
        "cluster int, centroid array<double>",
    )
    src = df.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    assigned = _assign_literal(src, cents_py, replicas)
    if not include_vectors:
        assigned = assigned.select("id", "cluster")
    return cents, assigned


def cluster_balanced_sample(
    df: DataFrame,
    cents_py: dict[int, list[float]],
    per_cluster: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-stratified corpus sample: assign every vector to its
    nearest centroid (the same Arrow-batched literal assignment the IVF
    family uses — no join, no shuffle on the corpus side) and keep a
    deterministic ``per_cluster`` rows per cell, ranked by
    ``md5(str(id))`` with the id tie-break — a seedless, engine-portable
    uniform pick (the md5-keyed convention every sampling op here uses).
    Returns (cluster, vec_id, rank_in_cluster).

    The training-data-curation use: topic/embedding-cluster-balanced
    subsets counter head-topic domination that a uniform sample keeps
    (per-cluster quotas are the embedding analogue of source quotas).
    One narrow scan + one shuffle on the cluster key (the window); at
    100 TB the window partitions are cluster-sized, not corpus-sized,
    and per_cluster bounds the output."""
    from pyspark.sql import Window

    if per_cluster < 1:
        raise ValueError("per_cluster must be >= 1")
    src = df.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    assigned = _assign_literal(src, cents_py).select("id", "cluster")
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()
    )
    return (
        assigned.withColumn(
            "rank_in_cluster", F.row_number().over(w).cast("int")
        )
        .where(F.col("rank_in_cluster") <= per_cluster)
        .select(
            "cluster", F.col("id").alias(id_col), "rank_in_cluster"
        )
    )


def ivf_flat_search(
    df: DataFrame,
    cents_py: dict[int, list[float]],
    query_vector,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat over externally-supplied centroid LITERALS (e.g.
    ``fixed_centroids`` or a previously-trained model's centroids).

    Probe ranking is pure driver-side python over the nlist literals
    (tiny); assignment is one Arrow-batched narrow scan (centroids ride
    the closure); the probed-cell filter + exact cosine rescore is a
    filter + TakeOrdered — NO join, NO shuffle, NO broadcast of anything
    corpus-sized anywhere in the plan. With deterministic centroid
    literals the whole search is SQL-expressible, which is what gives
    J2/J3 a hash-checked oracle row (reference src/index.rs:312-683).
    """
    q = [float(x) for x in query_vector]
    # 6-dp-rounded probe key + cluster-id tie-break: the same
    # engine-portability convention as ivf_search, so the oracle's probe
    # set cannot diverge on a near-tie
    probe = sorted(
        cents_py, key=lambda c: (-round(_cos_py(q, cents_py[c]), 6), c)
    )[:nprobe]
    src = df.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    assigned = _assign_literal(src, cents_py)
    return (
        assigned.where(F.col("cluster").isin(probe))
        .select(
            F.col("id").alias(id_col),
            F.round(cosine_vs_query(F.col("v"), query_vector), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_search(
    df: DataFrame,
    cents: DataFrame,
    assigned: DataFrame,
    query_vector,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """nprobe nearest clusters by centroid cosine -> exact rescore inside.

    The centroid ranking is a tiny subquery (nlist rows) and IS broadcast;
    the candidate-id side is ~corpus*nprobe/nlist rows and must NOT be —
    at 100 TB that is far past any broadcast limit (VERDICT r1 item 2).
    It meets the vectors through a left-semi equi-join on id, whose
    physical strategy Catalyst/AQE picks from actual sizes. The true
    100 TB path skips this join entirely: ivf_search_pruned reads only
    the probed partitions of the persisted cluster-partitioned layout.

    Every ranking key (probe csim here, approx_dist in the PQ variants)
    is rounded to 6 dp with a deterministic id/cluster tie-break — the
    engine-portability rule every oracle-checked query follows, so an
    oracle replaying this search over the persisted index tables ranks
    identically even though its sums associate differently.
    """
    q = vector_lit(query_vector)
    probe = (
        cents.select(
            "cluster",
            F.round(cosine_similarity(F.col("centroid"), q), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cluster").asc())
        .limit(nprobe)
        .select("cluster")
    )
    cand_ids = assigned.join(F.broadcast(probe), "cluster").select("id")
    left = df.select(F.col(id_col), to_double_array(vec_col).alias("v"))
    # bind the left side explicitly: an unbound F.col(id_col) resolves to
    # BOTH sides when id_col happens to be named "id"
    cand = left.join(cand_ids, left[id_col] == cand_ids["id"], "left_semi")
    return (
        cand.select(
            F.col(id_col),
            F.round(cosine_vs_query(F.col("v"), query_vector), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_build(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[list[float]]], DataFrame]:
    """Product quantization (reference IVF-PQ, src/index.rs:506-556): split
    each vector into ``m`` subvectors, k-means each subspace into ``k``
    codewords, store per-vector code arrays.

    Returns (codebooks[m][k][sub_dim], codes DataFrame (id, codes array<int>)).

    All ``m`` subspace k-means runs share ONE scan per Lloyd iteration: the
    data side explodes to (id, subspace, subvector) rows and a single
    groupBy(subspace, cluster) updates every codebook at once. Codebooks are
    driver-held literals (m*k*sub_dim doubles — tiny by construction), so
    assignment is in-scan argmin with no join. Codes are 8*m bits per vector
    vs 32*dim for f32 — a 32x (m=8, dim=64) compression, the point of PQ.
    """
    src = df.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    ).persist()
    dim = _dim_of(src, "v")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    codebooks = _pq_train(src, m, sub, k, max_iter)

    # release the training cache (CacheManager never frees on GC); the
    # returned codes recompute the one-column projection when
    # materialized — one extra scan, no leaked executor storage
    src.unpersist()
    codes = _pq_encode(src, codebooks, m, sub)
    return codebooks, codes


def _pq_assign(src: DataFrame, codebooks, m: int, sub: int) -> DataFrame:
    """(id, j, cluster, sv) — per-subspace nearest codeword, Arrow-batched
    numpy (see _assign_literal for why numpy beats interpreted folds here)."""
    CB = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)

    cb_norm = (CB * CB).sum(-1)  # (m, k)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(list(pdf["v"]), dtype=np.float64).reshape(n, m, sub)
            # |v|^2 - 2 v.cb + |cb|^2 in matmul form: (n,m,k) without the
            # (n,m,k,sub) broadcast temp — k=256 codebooks stay in-memory
            d = (
                (V * V).sum(-1)[:, :, None]
                - 2.0 * np.einsum("nms,mks->nmk", V, CB)
                + cb_norm[None, :, :]
            )
            codes = d.argmin(-1)  # (n, m)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), m),
                    "j": np.tile(np.arange(m), n),
                    "cluster": codes.reshape(-1),
                    "sv": list(V.reshape(n * m, sub)),
                }
            )

    return src.mapInPandas(run, "id long, j int, cluster int, sv array<double>")


def _pq_encode(src: DataFrame, codebooks, m: int, sub: int) -> DataFrame:
    """(id, codes array<int>) — final PQ codes, Arrow-batched."""
    CB = np.asarray(codebooks, dtype=np.float64)

    cb_norm = (CB * CB).sum(-1)
    # passthrough columns (e.g. the coarse cell for replicated IVF-PQ) keep
    # their SOURCE types — hardcoding int would silently coerce/break long
    # ids or string partition keys
    extra = [c for c in src.columns if c not in ("id", "v")]
    src_types = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    schema = (
        "id long, "
        + "".join(f"{c} {src_types[c]}, " for c in extra)
        + "codes array<int>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(list(pdf["v"]), dtype=np.float64).reshape(n, m, sub)
            d = (
                (V * V).sum(-1)[:, :, None]
                - 2.0 * np.einsum("nms,mks->nmk", V, CB)
                + cb_norm[None, :, :]
            )
            codes = d.argmin(-1).astype("int32")
            out = {"id": pdf["id"].to_numpy()}
            for c in extra:
                out[c] = pdf[c].to_numpy()
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema)


def _pq_train(src: DataFrame, m: int, sub: int, k: int, max_iter: int):
    """Shared PQ codebook training (flat pq_build and residual
    ivfpq_build): per-subspace k-means++ init over one bounded
    hash-ordered sample (seed varies per subspace), then ``max_iter``
    Lloyd rounds where a single groupBy(j, cluster) updates every
    codebook at once. ``src`` must carry (id, v)."""
    S = _sampled_matrix(src, max(k * 32, 512))
    codebooks: list[list[list[float]]] = [
        [
            list(cw)
            for cw in _kmeanspp_init(
                np.ascontiguousarray(S[:, j * sub : (j + 1) * sub]), k, seed=13 + j
            )
        ]
        for j in range(m)
    ]
    for _ in range(max_iter):
        assigned = _pq_assign(src.select("id", "v"), codebooks, m, sub)
        new_rows = (
            assigned.groupBy("j", "cluster")
            .agg(F.array(*[F.avg(F.col("sv")[i]) for i in range(sub)]).alias("cw"))
            .collect()
        )
        for r in new_rows:
            codebooks[r["j"]][r["cluster"]] = list(r["cw"])
    return codebooks


def _adc_table(qv, codebooks, m: int, sub: int) -> list[list[float]]:
    """ADC distance table: dtable[j][c] = ||qv_subspace_j - codeword||^2,
    the driver-computed m x k lookup both PQ search variants broadcast
    (ivfpq passes the query RESIDUAL against the probed cell)."""
    return [
        [
            sum((qv[j * sub + i] - cw[i]) ** 2 for i in range(sub))
            for cw in codebooks[j]
        ]
        for j in range(m)
    ]


def pq_search(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    codes: DataFrame,
    query_vector,
    k: int = 10,
    rescore: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search: driver-computed distance table (m x k, tiny) -> per-row
    approximate distance = sum of table lookups by code -> top-``rescore``
    candidates -> exact cosine rescore -> top-k.

    The candidate scan touches only the codes table (8 bytes/vector at
    m=8); the rescore join brings back ``rescore`` full vectors — broadcast
    by construction. Mirrors the reference's coarse->exact two-stage shape.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dtable = _adc_table(query_vector, codebooks, m, sub)
    # one parsed SQL literal instead of m x 2^bits py4j F.lit calls
    from ..functions.vector import array_lit_sql

    dt_lit = F.expr(
        "array(" + ", ".join(array_lit_sql(row) for row in dtable) + ")"
    )
    # 6-dp rounded ranking key (engine-portable: an oracle's re-summed
    # distance table ranks identically; ties break by id)
    approx = codes.withColumn("dt", dt_lit).select(
        "id",
        F.round(
            F.expr(
                "aggregate(zip_with(codes, dt, (c, row) -> element_at(row, c + 1)),"
                " 0D, (a,x) -> a+x)"
            ),
            6,
        ).alias("approx_dist"),
    )
    cand = (
        approx.orderBy(F.col("approx_dist").asc(), F.col("id").asc())
        .limit(rescore)
        .select("id")
    )
    hydrated = df.join(
        F.broadcast(cand), df[id_col] == cand["id"]
    ).select(df[id_col], to_double_array(vec_col).alias("v"))
    return (
        hydrated.select(
            F.col(id_col),
            F.round(cosine_vs_query(F.col("v"), query_vector), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_build(
    df: DataFrame,
    nlist: int = 8,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replicas: int = 1,
):
    """True FAISS-style IVF-PQ (reference src/index.rs:506-556): coarse
    k-means cells + product quantization of the **residuals** (v - cell
    centroid) — residual PQ preserves far more precision than raw PQ
    because the residual distribution is centered and tighter per cell.

    Returns (cents_df, codebooks, codes_df) where codes_df is
    (id, cluster, codes array<int>). One extra narrow map computes the
    residuals (broadcast centroid literal subtraction); PQ training reuses
    the shared-scan subspace machinery. ``replicas>1`` stores each vector
    in its ``replicas`` nearest cells (SPANN-style boundary replication),
    each replica encoding its OWN cell's residual; search keeps the best
    cell per id.
    """
    cents = kmeans_fit(df, nlist, max_iter, id_col, vec_col)
    cents_py = {r["cluster"]: list(r["centroid"]) for r in cents.collect()}
    src = df.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    assigned_v = _assign_literal(src, cents_py, replicas)  # (id, v, cluster)
    residuals = assigned_v.withColumn(
        "_cents", _cent_map_lit(cents_py)
    ).select(
        "id",
        "cluster",
        F.expr("zip_with(v, element_at(_cents, cluster), (x, c) -> x - c)").alias("v"),
    )
    dim = len(next(iter(cents_py.values())))
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    res_src = residuals.select("id", "cluster", "v").persist()
    # codebooks train on a bounded sample of RESIDUALS (see _pq_train)
    codebooks = _pq_train(res_src, m, sub, k, max_iter)
    # encode carries the coarse cell through (passthrough column) — no
    # join back, which would fan out under replication
    codes = _pq_encode(res_src, codebooks, m, sub)
    res_src.unpersist()
    return cents, codebooks, codes


def ivfpq_search(
    df: DataFrame,
    cents: DataFrame,
    codebooks,
    codes: DataFrame,
    query_vector,
    k: int = 10,
    nprobe: int = 2,
    rescore: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC over residual codes: per probed cell, the distance table is built
    from (query - cell centroid); candidates from the nprobe cells rank by
    table lookups, then exact cosine rescore.

    The per-cell distance tables ride in as a broadcast (cluster, dtable)
    frame — nprobe * m * k doubles, trivially small.
    """
    spark = df.sparkSession
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cents_rows = {r["cluster"]: list(r["centroid"]) for r in cents.collect()}
    q = [float(x) for x in query_vector]

    # rank cells by cosine(query, centroid), driver-side (nlist rows);
    # 6-dp rounded + cluster tie-break so an oracle ranks identically
    probe = sorted(
        cents_rows, key=lambda c: (-round(_cos_py(q, cents_rows[c]), 6), c)
    )[:nprobe]

    dt_rows = []
    for c in probe:
        r = [qi - ci for qi, ci in zip(q, cents_rows[c])]
        dt_rows.append((c, _adc_table(r, codebooks, m, sub)))
    dt_df = F.broadcast(
        spark.createDataFrame(
            dt_rows, "cluster int, dtable array<array<double>>"
        )
    )
    # per-(id, cell) approximation rounded to 6 dp BEFORE the min so the
    # oracle's re-summed tables take the same min (engine-portable ranks)
    approx = codes.join(dt_df, "cluster").select(
        "id",
        F.round(
            F.expr(
                "aggregate(zip_with(codes, dtable, (c, row) -> element_at(row, c + 1)),"
                " 0D, (a, x) -> a + x)"
            ),
            6,
        ).alias("approx_dist"),
    )
    # replicated layouts hold an id in several probed cells — keep the best
    # cell's approximation (map-side-combined min over the probed subset)
    approx = approx.groupBy("id").agg(F.min("approx_dist").alias("approx_dist"))
    cand = (
        approx.orderBy(F.col("approx_dist").asc(), F.col("id").asc())
        .limit(rescore)
        .select("id")
    )
    hydrated = df.join(F.broadcast(cand), df[id_col] == cand["id"]).select(
        df[id_col], to_double_array(vec_col).alias("v")
    )
    return (
        hydrated.select(
            F.col(id_col),
            F.round(cosine_vs_query(F.col("v"), query_vector), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _save_tables(spark, path: str, tables: dict) -> None:
    """Publish each sub-table of the multi-table index at ``path``
    (``{name: (df, publish_table options)}``), then commit one
    ``{path}/_catalog`` version naming the versions those publishes
    returned (the catalog of sources.tables). A save that loses the
    catalog CAS to a concurrent save raises ConcurrentMergeError, and
    the winner's whole set stands."""
    from ..sources.tables import commit_catalog, publish_table, read_catalog

    base = read_catalog(spark, path, tuple(tables))
    pinned = dict(base.tables)
    for name, (df, opts) in tables.items():
        v = publish_table(spark, f"{path}/{name}", df, keep=None, **opts)
        pinned[name] = (v, "plain")
    commit_catalog(spark, path, base, pinned)


def _locate(spark, path: str, catalog, name: str):
    """``(directory, sidecar schema or None)`` of sub-table ``name`` of
    the index at ``path``, at ``catalog``'s entry. Locating reads no
    data and lists none of its partition directories."""
    from ..sources.tables import _entry_dir, _sidecar_schema, read_table_stats

    entry = catalog.tables.get(name)
    if entry is None:
        raise FileNotFoundError(f"no committed {name} table under {path}")
    sub = f"{path}/{name}"
    st = None if entry[1] != "plain" else read_table_stats(spark, sub, entry[0])
    return _entry_dir(spark, sub, entry), _sidecar_schema(st)


def _open(spark, path: str, catalog, name: str) -> DataFrame:
    d, schema = _locate(spark, path, catalog, name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(d)


def save_index(
    path: str,
    cents: DataFrame,
    assigned: DataFrame,
    extra_stats: dict | None = None,
) -> None:
    """S13 index persistence (src/query.rs:282-409 saves gzip'd HNSW; our
    index IS tables): centroids as plain parquet, assignments partitioned
    by cluster so nprobe pruning becomes parquet partition pruning. If
    ``assigned`` carries the vector column ``v`` (ivf_build
    include_vectors=True), the layout is a full inverted list and
    ivf_search_pruned can search it with zero joins. ``extra_stats``
    (e.g. ``{"replicas": 2}``) rides the assignments' _STATS sidecar so
    readers recover the layout parameters without scanning.

    The index is TWO tables that must agree (postings are placements in
    the centroids' geometry), so one catalog version pins the pair
    (:func:`_save_tables`): a writer stopped between the two publishes
    leaves the previous pair committed, readers (:func:`open_ivf_index`)
    never see new centroids with old postings or vice versa, and of two
    concurrent saves one commits while the other raises
    ConcurrentMergeError."""
    _save_tables(
        cents.sparkSession,
        path,
        {
            "centroids": (cents, {}),
            "assignments": (
                assigned,
                {"partition_by": ["cluster"], "extra_stats": extra_stats},
            ),
        },
    )


def ivf_search_pruned(
    spark,
    path: str,
    query_vector,
    k: int = 10,
    nprobe: int = 4,
    index: IvfIndex | None = None,
) -> DataFrame:
    """The 100 TB IVF search shape: read ONLY the probed partitions of the
    persisted cluster-partitioned inverted list — each probed
    ``cluster=`` directory is opened by path (a directory skip, not a
    filter, at any nlist: the unprobed cells are never even listed), so
    the scan touches ~nprobe/nlist of the index and there is no join
    anywhere in the plan. One job picks the probed cells (a top-nprobe
    over the tiny centroid table); the search itself is the only other.

    Requires an index saved from ivf_build(include_vectors=True).
    ``index`` reuses an already opened :class:`IvfIndex` of ``path``.
    Returns (vec_id, score) — same contract as ivf_search.
    """
    idx = index if index is not None else open_ivf_index(spark, path)
    if "v" not in idx.assignments_schema.names:
        raise ValueError(
            "index has no vector column; build with ivf_build(include_vectors=True)"
        )
    q = vector_lit(query_vector)
    probe = [
        r["cluster"]
        for r in idx.cents.select(
            "cluster",
            F.round(cosine_similarity(F.col("centroid"), q), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cluster").asc())
        .limit(nprobe)
        .collect()
    ]
    return (
        idx.cells(probe)
        # already true of every row read; kept as the plan's partition
        # filter, so the probed set stays visible in EXPLAIN
        .where(F.col("cluster").isin(probe))
        .select(
            F.col("id").alias("vec_id"),
            F.round(cosine_vs_query(F.col("v"), query_vector), 6).alias("score"),
        )
        # replicated layouts (ivf_build replicas>1) store an id in several
        # probed cells; distinct over the probed subset dedups (map-side
        # combined — rows are identical, so this is cheap)
        .dropDuplicates(["vec_id"])
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


class IvfIndex(NamedTuple):
    """An opened IVF index: the centroid table plus the LOCATION and
    schema of the cluster-partitioned assignments. Opening lists none
    of the assignment cells, so a pruned search reads only the
    directories it probes (:meth:`cells`) — partition discovery over
    every cell is a listing job once nlist passes Spark's parallel
    discovery threshold (32 directories)."""

    cents: DataFrame
    assignments_dir: str
    assignments_schema: StructType

    @classmethod
    def of(
        cls, cents: DataFrame, assignments_dir: str, schema: StructType | None
    ) -> IvfIndex:
        """The one way an index is opened (the facade's catalog entries
        and :func:`open_ivf_index`): the centroid table must carry
        ``cluster`` and ``centroid``; a legacy assignments table without
        a sidecar schema has its schema inferred once."""
        for col in ("cluster", "centroid"):
            if col not in cents.columns:
                raise ValueError(f"centroid table missing column {col!r}")
        if schema is None:
            schema = cents.sparkSession.read.parquet(assignments_dir).schema
        return cls(cents, assignments_dir, schema)

    def assignments(self) -> DataFrame:
        """The whole assignments table (lists every cell)."""
        spark = self.cents.sparkSession
        return spark.read.schema(self.assignments_schema).parquet(
            self.assignments_dir
        )

    def cells(self, clusters: list) -> DataFrame:
        """The assignment rows of ``clusters`` only: each probed
        ``cluster=`` directory read under ``basePath`` (a probed cell
        that holds no rows has no directory and is skipped)."""
        from ..sources.tables import _hadoop_fs

        spark = self.cents.sparkSession
        fs, P = _hadoop_fs(spark, self.assignments_dir)
        dirs = [f"{self.assignments_dir}/cluster={c}" for c in clusters]
        dirs = [d for d in dirs if fs.exists(P(d))]
        if not dirs:
            return spark.createDataFrame([], self.assignments_schema)
        return (
            spark.read.schema(self.assignments_schema)
            .option("basePath", self.assignments_dir)
            .parquet(*dirs)
        )


def open_ivf_index(spark, path: str) -> IvfIndex:
    """Open a persisted IVF index at the centroid/assignment pair its
    newest catalog names — never a half-rebuilt mix of new centroids and
    old postings (see save_index). An index saved without a catalog
    opens at its newest pair. With publish-time sidecar schemas this
    lists only ``{path}/_catalog`` and costs zero Spark jobs."""
    from ..sources.tables import read_catalog

    cat = read_catalog(spark, path, ("centroids", "assignments"))
    adir, schema = _locate(spark, path, cat, "assignments")
    return IvfIndex.of(_open(spark, path, cat, "centroids"), adir, schema)


def load_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load persisted IVF index tables ``(centroids, assignments)`` at
    the catalog's pair (:func:`open_ivf_index`); dimension/shape
    validation mirrors the reference's load-time checks
    (src/query.rs:352-371)."""
    idx = open_ivf_index(spark, path)
    return idx.cents, idx.assignments()


def random_projection_buckets(
    df: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) sign-bit LSH bucket per vector.

    Hyperplanes are deterministic pseudo-random unit-free vectors derived
    from md5(seed, plane, dim-index) mapped to [-1, 1] — reproducible in
    any engine, no stored model. Cosine-similar vectors collide with prob
    1 - theta/pi per plane.
    """
    if dim is None:
        dim = _dim_of(df, vec_col)
    if n_planes > 62:
        raise ValueError(
            f"n_planes={n_planes} overflows the 64-bit bucket; use more "
            "tables (OR-amplification) instead of wider ones"
        )
    folded = _rp_fold_arrow(
        df,
        _md5_coords(f"{seed}:{{p}}:{{i}}", n_planes, dim),
        dim,
        id_col,
        vec_col,
        "buckets",
        n_planes=n_planes,
        n_tables=1,
    )
    return folded.select("id", F.col("_rp")[0].alias("bucket"))


def _rp_fold_arrow(
    df: DataFrame,
    planes: list[list[float]],
    dim: int,
    id_col: str,
    vec_col: str,
    mode: str,
    n_planes: int = 0,
    n_tables: int = 0,
    factor: float = 1.0,
) -> DataFrame:
    """All RP plane dot-folds for one vector column as ONE Arrow kernel —
    ``(id, _rp array<...>)`` with ``_rp`` = per-table sign buckets
    (``mode='buckets'``) or the scaled projection (``mode='proj'``).

    Replaces the Catalyst ``aggregate(zip_with(...))`` higher-order fold,
    whose lambdas are interpreted PER ELEMENT (n_planes x dim calls per
    row — measured ~0.8 s at sf0.1 for the 4x4 neardup family, the
    slowest query at both driver core counts; guide §4.2: hand whole
    batches to vectorized native code). Results are BIT-IDENTICAL to the
    SQL fold (the DuckDB oracle's shape, and the parity reference in
    tests/test_opt_r12.py), proven by construction rather than by an
    epsilon guard:
    the kernel executes the SAME left-to-right IEEE-754 sequence
    acc = ((0.0 + v[0]*p[0]) + v[1]*p[1]) + ... for every (row, plane) —
    vectorized ACROSS rows (one numpy multiply + one add per dimension,
    never numpy.dot/matmul, whose pairwise/SIMD summation reorders the
    adds) — so every intermediate double equals the JVM fold's and no
    near-zero sign flip is possible. Scaling (rp_project's
    sqrt(3/n_out)) is one final IEEE multiply, same as the SQL shape.

    Degenerate rows reproduce the fold's null algebra exactly: a NULL
    vector, a NULL element, or a length != dim makes zip_with/aggregate
    yield a NULL dot, which the CASE sign turns into bit 0 (bucket 0)
    and rp_project surfaces as a NULL component — the kernel routes any
    such row to all-zero buckets / all-NULL components.
    """
    import pyarrow as pa

    P = np.asarray(planes, dtype=np.float64)  # (n_planes_total, dim)
    total = P.shape[0]
    narrow = mode == "buckets" and n_planes <= 31
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    id_type = base.schema["id"].dataType.simpleString()
    if mode == "buckets":
        out_schema = f"id {id_type}, _rp array<{'int' if narrow else 'bigint'}>"
    else:
        out_schema = f"id {id_type}, _rp array<double>"

    def fold(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        list_f64 = pa.list_(pa.float64())
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            vec = batch.column(1).cast(list_f64)  # fixed_size_list safety
            offsets = vec.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lengths = offsets[1:] - offsets[:-1]
            valid = vec.is_valid().to_numpy(zero_copy_only=False) & (
                lengths == dim
            )
            vals = vec.values
            if vals.null_count:
                child_null = vals.is_null().to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                cums = np.concatenate(([0], np.cumsum(child_null)))
                valid &= (cums[offsets[1:]] - cums[offsets[:-1]]) == 0
            nv = int(valid.sum())
            dots = np.zeros((nv, total), dtype=np.float64)
            if nv:
                vnp = vals.to_numpy(zero_copy_only=False)
                starts = offsets[:-1][valid]
                idx = (starts[:, None] + np.arange(dim, dtype=np.int64)).ravel()
                X = vnp[idx].reshape(nv, dim)
                # the exact fold, vectorized across (rows, planes): one
                # IEEE multiply + one IEEE add per dimension, in the
                # fold's left-to-right order
                for i in range(dim):
                    dots += X[:, i : i + 1] * P[None, :, i]
            if mode == "buckets":
                bits = np.zeros((n, total), dtype=np.int64)
                # Spark orders NaN GREATER than every double (its CASE
                # `dot > 0` is true for a NaN dot), unlike IEEE/numpy —
                # a NULL dot (invalid row) stays bit 0
                bits[valid] = ((dots > 0) | np.isnan(dots)).astype(np.int64)
                shifts = (n_planes - 1) - np.arange(n_planes, dtype=np.int64)
                buckets = np.zeros((n, n_tables), dtype=np.int64)
                for t in range(n_tables):
                    grp = bits[:, t * n_planes : (t + 1) * n_planes]
                    buckets[:, t] = (grp << shifts[None, :]).sum(axis=1)
                flat = pa.array(
                    buckets.ravel(),
                    type=pa.int32() if narrow else pa.int64(),
                )
                out = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32),
                        type=pa.int32(),
                    ),
                    flat,
                )
            else:
                proj = np.zeros((n, total), dtype=np.float64)
                proj[valid] = dots * factor  # one final IEEE multiply
                mask = np.repeat(~valid, total)
                flat = pa.array(proj.ravel(), type=pa.float64(), mask=mask)
                out = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (n + 1) * total, total, dtype=np.int32),
                        type=pa.int32(),
                    ),
                    flat,
                )
            yield pa.RecordBatch.from_arrays([ids, out], ["id", "_rp"])

    return base.mapInArrow(fold, out_schema)


def random_projection_tables(
    df: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, tbl, bucket) — OR-amplified multi-table sign-bit LSH in ONE
    scan: table t uses the hyperplane family seeded ``seed + t``, and a
    pair is a candidate if it collides in ANY table. Collision probability
    for angle theta: 1 - (1 - (1 - theta/pi)^p)^L — the standard
    (p AND, L OR) amplification; a single p-plane table keeps candidate
    volume down but its recall collapses below the S-curve knee (measured
    0.14 pair recall at cosine 0.5 with one 8-plane table; see RECALL.md).
    """
    if dim is None:
        dim = _dim_of(df, vec_col)
    if n_planes > 62:
        raise ValueError(
            f"n_planes={n_planes} overflows the 64-bit bucket; use more "
            "tables (OR-amplification) instead of wider ones"
        )
    planes: list[list[float]] = []
    for t in range(n_tables):
        planes.extend(_md5_coords(f"{seed + t}:{{p}}:{{i}}", n_planes, dim))
    folded = _rp_fold_arrow(
        df,
        planes,
        dim,
        id_col,
        vec_col,
        "buckets",
        n_planes=n_planes,
        n_tables=n_tables,
    )
    return folded.select(
        "id", F.posexplode("_rp").alias("tbl", "bucket")
    )


def rp_project(
    df: DataFrame,
    n_out: int = 16,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: bool = True,
) -> DataFrame:
    """Johnson-Lindenstrauss random-projection dimensionality reduction:
    project each vector onto ``n_out`` deterministic md5-derived
    hyperplanes (the same plane family as ``random_projection_buckets``,
    kept as dot products instead of sign bits) and scale by
    sqrt(3/n_out) — U[-1,1] plane entries have E[c^2] = 1/3, so this is
    the factor that makes squared distances preserved in expectation
    (the JL guarantee a downstream distance threshold relies on).

    The planes are derived, not stored — any engine regenerates them
    from (seed, plane, dim-index), which is what makes the DuckDB oracle
    replay exact. Pure narrow map: zero shuffles, no model table, cost
    n_out x dim multiply-adds per row inside codegen. At 100 TB this is
    the cheap pre-pass that shrinks embedding bytes 4x before a
    downstream ANN build or near-dup pass.

    Returns (id, proj array<double>).
    """
    if dim is None:
        dim = _dim_of(df, vec_col)
    factor = math.sqrt(3.0 / n_out) if scale else 1.0
    folded = _rp_fold_arrow(
        df,
        _md5_coords(f"{seed}:{{p}}:{{i}}", n_out, dim),
        dim,
        id_col,
        vec_col,
        "proj",
        factor=factor,
    )
    return folded.select("id", F.col("_rp").alias("proj"))


def ivf_index_stats(
    emb: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-health readout over a persisted IVF index: per cluster the
    member count, occupancy share, and mean member-to-centroid cosine
    (6-dp before averaging — engine-reproducible). This is the
    maintenance probe that decides WHEN to re-train: occupancy skew
    (hot cells slow probes) and falling cohesion (drifted centroids cut
    recall) are the two re-cluster triggers.

    Scale shape: one equi-join of the assignment table with the corpus
    on id (co-partitioned when both are bucketed by id), broadcast of
    the nlist-sized centroid table, then a map-side-combined groupBy
    over nlist keys. Nothing corpus-sized is collected or broadcast.
    """
    v = to_double_array(vec_col)
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"))
    joined = assigned.select("id", "cluster").join(base, "id").join(
        F.broadcast(centroids.select("cluster", "centroid")), "cluster"
    )
    cos = F.round(cosine_similarity(F.col("v"), F.col("centroid")), 6)
    per = joined.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg(cos), 6).alias("mean_cosine"),
    )
    total = per.agg(F.sum("n_members").alias("tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "cluster",
        F.col("n_members").cast("int").alias("n_members"),
        F.round(F.col("n_members") / F.col("tot"), 6).alias("share"),
        "mean_cosine",
    )


def _block_local_topk(xids, yids, X, Y, k: int, same_block: bool):
    """Per-row local top-``k`` of the cosine matrix ``X @ Y.T`` by
    (cosine DESC, dst id ASC) — the block kernel behind
    :func:`knn_graph`, :func:`knn_graph_add` and :func:`knn_exact_for`.
    ``yids`` MUST be sorted ascending: the tie-break then falls out of a
    single stable argsort on the negated rounded scores (no per-row
    lexsort loop). Cosines come from ``dedup._cosine_matrix`` (6-dp
    round, zero-norm rows score 0.0). Self-pairs (same id on both sides)
    are excluded. Returns a pandas DataFrame (src, dst, cosine) or
    None."""
    S = _cosine_matrix(X, Y)
    if same_block:
        S[xids[:, None] == yids[None, :]] = -np.inf
    kk = min(k, S.shape[1])
    if kk <= 0:
        return None
    order = np.argsort(-S, axis=1, kind="stable")[:, :kk]
    sel = np.take_along_axis(S, order, axis=1)
    src = np.repeat(xids, kk)
    dst = yids[order.ravel()]
    cos = sel.ravel()
    keep = np.isfinite(cos)
    if not keep.any():
        return None
    return pd.DataFrame(
        {"src": src[keep], "dst": dst[keep], "cosine": cos[keep]}
    )


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """The per-src cut of candidate edges ``(src, dst, cosine)`` to the
    final ``(src, dst, rank, cosine)`` rows: rank 1..k by (cosine DESC,
    dst ASC) in one partitioned window (never a single-partition sort).
    Every candidate cosine comes from :func:`_block_local_topk`, already
    rounded to 6 dp, so equal scores compare equal across builds."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(k))
        .select("src", "dst", "rank", "cosine")
    )


def knn_graph(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact directed k-nearest-neighbor graph over the whole corpus —
    ``(src, dst, rank, cosine)`` with rank 1..k by (cosine DESC, dst
    ASC), self excluded. The foundation for graph-based dedup
    communities, NN-descent seeding, and dataset-cartography maps.

    Scale shape (the blocked-GEMM fan-out ``dedup._block_gemm`` shared
    with ``dedup.embedding_neardup_pairs_gemm``, reshaped for top-k
    instead of a threshold): vectors hash into B row-blocks, a broadcast
    (i <= j) block-pair table fans B(B+1)/2 matmul tasks out, and each
    task emits only its block-LOCAL top-k per row (both directions for
    an off-diagonal pair). The global per-src reduce then sees at most
    k*B candidates per node — corpus-size-independent — and a
    partitioned window (never a single-partition sort) cuts the final
    top-k. No driver collect, no row cap; every task holds two blocks.
    Non-integral ids raise before any job runs.

    The block-local cut loses nothing: the global top-k by (cosine,
    dst) is a subset of the union of per-block top-k under the SAME
    order, because each global winner is within the top-k of its own
    block pair (the kernel tie-breaks identically, so boundary ties
    survive too).
    """

    def both_ways(ai, bi, A, B, same):
        out = [_block_local_topk(ai, bi, A, B, k, same_block=same)]
        if not same:
            out.append(_block_local_topk(bi, ai, B, A, k, same_block=False))
        out = [o for o in out if o is not None]
        return pd.concat(out, ignore_index=True) if out else None

    cand = _block_gemm(
        emb, id_col, vec_col, n_blocks, rows_per_block, both_ways,
        "src long, dst long, cosine double",
    )
    return _rank_topk(cand, k)


def mutual_knn_pairs(edges: DataFrame) -> DataFrame:
    """Mutual-kNN pairs from a directed :func:`knn_graph` edge list:
    ``(a, b, cosine)`` with a < b where each endpoint appears in the
    other's top-k. The standard sparsifier for graph-clustering /
    community-dedup (mutual edges are far more precise than one-way
    ones). One shuffle equi-join of the edge list with its own reverse
    on the composite (src, dst) key — edge-count-sized, never
    corpus-squared."""
    fwd = edges.select("src", "dst", "cosine").where(F.col("src") < F.col("dst"))
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).where(F.col("src") < F.col("dst"))
    return (
        fwd.join(rev, ["src", "dst"])
        .select(
            F.col("src").alias("a"), F.col("dst").alias("b"), "cosine"
        )
    )


def knn_in_degree_histogram(
    edges: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hubness diagnostic over a directed :func:`knn_graph`:
    ``(in_degree, n_nodes)`` — how many corpus vectors are "pointed at"
    by 0, 1, 2, ... others' top-k lists. High-dimensional spaces grow
    hub vectors (in-degree >> k) that dominate retrieval results and
    anti-hubs (in-degree 0) that never surface (Radovanovic et al.
    2010, JMLR 11); a heavy right tail here is the signal to re-embed,
    whiten, or switch to mutual-kNN edges.

    Scale shape: one map-side-combined count by dst, a LEFT join from
    the corpus id set (so anti-hubs appear as 0), then a histogram
    reduce over at most max_in_degree+1 keys. Nothing is collected.
    """
    deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    ids = corpus.select(F.col(id_col).alias("id"))
    full = ids.join(deg, "id", "left").select(
        F.coalesce(F.col("in_degree"), F.lit(0)).cast("int").alias("in_degree")
    )
    return (
        full.groupBy("in_degree")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("in_degree")
    )


def knn_graph_add(
    edges: DataFrame,
    emb: DataFrame,
    batch_ids: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact incremental kNN-graph maintenance for an INSERT batch — the
    graph analogue of :func:`ivf_add` (the reference rebuilds its whole
    proximity graph per insert, ref:src/index.rs:164-209; this absorbs
    the batch in one corpus scan). ``emb`` is the POST-merge corpus,
    ``batch_ids`` the inserted ids (one ``id_col`` column), ``k`` the
    graph's out-degree. Returns the full grown edge table
    ``(src, dst, rank, cosine)``.

    Exactness argument (insert-only): a pre-existing node's post-insert
    kNN is a subset of (its old kNN ∪ the batch) — inserts can only ADD
    candidates — so re-cutting top-k over old edges ∪ (node, batch)
    scores reproduces a rebuild's edge set; batch nodes get fresh exact
    out-edges from the same scored pass (every corpus row x every batch
    vector, ONE scan with the batch broadcast). Updates/deletes are NOT
    exact through this path (an update invalidates reverse edges whose
    true replacement may be outside old∪batch): route those through
    ``build_index`` — the same full-retrain trigger contract as
    ``ivf_drift``. Cosines for the new rows come from the SAME
    _block_local_topk BLAS kernel knn_graph uses (both directions of
    the corpus-x-batch pass), so old and fresh scores share one
    numerical provenance (6-dp rounded) and :func:`_rank_topk` ranks
    them in one window.

    Scale shape: ONE Arrow scan of the corpus against the batch matrix
    (a delta-bounded driver artifact, the kmeans-centroid contract) in
    the SAME BLAS block kernel knn_graph uses — per corpus chunk a
    (chunk x batch) GEMM emitting only per-row top-k rows in each
    direction (<= 2k rows per corpus row; a batch candidate outside a
    node's top-k-vs-batch cannot enter the node's final top-k, because k
    better batch candidates already beat it) — then a per-src window
    over <= 2k rows/node and an anti-join dropping the batch's stale
    out-edges. No all-pairs stage, no per-pair Catalyst lambda (the
    expression-cosine draft of this pass was measured minutes-slow at a
    mere 20k x 2k — the GEMM kernel is the only right shape here).
    Non-integral ids raise before any job runs.
    """
    _require_integer_ids(emb, [id_col], "knn_graph_add")
    ids = batch_ids.select(F.col(id_col).alias("_bid")).distinct()
    v = to_double_array(vec_col)
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"))
    brows = (
        base.join(ids, base["id"] == ids["_bid"], "left_semi")
        .orderBy("id")
        .collect()
    )
    bm_ids = np.array([r["id"] for r in brows], dtype=np.int64)
    BM = np.array([r["v"] for r in brows], dtype=np.float64)
    kk = int(k)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if len(bm_ids) == 0:
            return
        bset = set(bm_ids.tolist())
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("id")
            xids = pdf["id"].to_numpy(dtype=np.int64)
            X = np.array(list(pdf["v"]), dtype=np.float64)
            # existing-node candidates: per-row GLOBAL top-k vs the batch
            # (the full batch matrix is present in every task). Batch
            # rows are EXCLUDED from the src side here — their out-edges
            # come solely from the rev direction below, so no (src, dst)
            # pair can be emitted twice (a duplicate row would inflate
            # the final window's rank and evict a legitimate kth edge).
            keep = np.array([i not in bset for i in xids], dtype=bool)
            if keep.any():
                fwd = _block_local_topk(
                    xids[keep], bm_ids, X[keep], BM, kk, same_block=True
                )
                if fwd is not None:
                    yield fwd
            # batch out-edges: per-batch-row top-k within THIS chunk
            # (block-local; the per-src window below is the global cut —
            # the same block-local-union argument as knn_graph)
            rev = _block_local_topk(bm_ids, xids, BM, X, kk, same_block=True)
            if rev is not None:
                yield rev

    scored = base.mapInPandas(score, "src long, dst long, cosine double")
    # Existing nodes keep their old edges ∪ their batch candidates; the
    # batch's own (block-local) out-edge candidates reduce globally in
    # the same window. Old edges TOUCHING a batch id are stale and drop:
    # out-edges of batch srcs (replaced wholesale by rev), AND old edges
    # whose dst is in the batch — on an UPDATE batch those carry the
    # dst's pre-update cosine, and keeping them alongside the freshly
    # scored (src, dst, new_cosine) rows would leave duplicate (src, dst)
    # pairs with conflicting scores in the window, inflating rank and
    # evicting a legitimate kth neighbor. For pure inserts the dst
    # anti-join is a no-op (no old edge can point at a brand-new id),
    # and fwd re-scores every (corpus row, batch id) pair anyway, so
    # nothing is lost.
    old = (
        edges.select("src", "dst", "cosine")
        .join(F.broadcast(ids.withColumnRenamed("_bid", "src")), "src", "left_anti")
        .join(F.broadcast(ids.withColumnRenamed("_bid", "dst")), "dst", "left_anti")
    )
    return _rank_topk(old.unionByName(scored), k)


def knn_exact_for(
    emb: DataFrame,
    query_ids: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-``k`` edge rows ``(src, dst, rank, cosine)`` for ONLY the
    given query ids against the full corpus — the spot-rebuild primitive
    behind graph-index DELETE repair (a survivor that pointed at a
    deleted vector needs its true post-delete kNN, which can be ANY
    corpus vector, so nothing short of a fresh scan for that node is
    exact). ``query_ids`` must be delta-bounded (it becomes a broadcast
    matrix — the same driver-artifact contract as knn_graph_add's batch
    and the kmeans centroids).

    Scale shape: ONE Arrow scan of the corpus; per chunk a
    (queries x chunk) GEMM in the same BLAS block kernel as knn_graph,
    emitting per-query block-local top-k; a per-src window over <= k x
    n_chunks rows makes the global cut. Self-pairs excluded; ties break
    (cosine DESC, dst ASC) — identical to a full rebuild's ordering.
    Non-integral ids raise before any job runs.
    """
    _require_integer_ids(emb, [id_col], "knn_exact_for")
    ids = query_ids.select(F.col(id_col).alias("_qid")).distinct()
    v = to_double_array(vec_col)
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"))
    qrows = (
        base.join(ids, base["id"] == ids["_qid"], "left_semi")
        .orderBy("id")
        .collect()
    )
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "src long, dst long, rank int, cosine double"
        )
    q_ids = np.array([r["id"] for r in qrows], dtype=np.int64)
    QM = np.array([r["v"] for r in qrows], dtype=np.float64)
    kk = int(k)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("id")
            xids = pdf["id"].to_numpy(dtype=np.int64)
            X = np.array(list(pdf["v"]), dtype=np.float64)
            out = _block_local_topk(q_ids, xids, QM, X, kk, same_block=True)
            if out is not None:
                yield out

    return _rank_topk(
        base.mapInPandas(score, "src long, dst long, cosine double"), kk
    )


def _rank_key(item):
    """Sort key of a visited ``(id, score)`` pair in Spark's frontier
    order: score descending with NaN greatest (Spark's double ordering),
    then id ascending."""
    i, s = item
    return (0, 0.0, i) if s != s else (1, -s, i)


def _local_scores(spark, rows, id_col: str, id_type) -> DataFrame:
    """``(id_col, score)`` rows held on the driver as a VALUES relation:
    a LocalTableScan keeps the rows' order, and reading it runs no Spark
    job (ids that :func:`id_literal` cannot spell fall back to
    createDataFrame)."""
    from ..functions.vector import id_literal, sql_double

    t = id_type.simpleString()
    lit = id_literal(id_type)
    spelled = [] if lit is None else [lit(i) for i, _ in rows]
    if lit is None or None in spelled:
        return spark.createDataFrame(rows, f"`{id_col}` {t}, score double")
    vals = ", ".join(
        f"({i}, {sql_double(s)})" for i, (_, s) in zip(spelled, rows)
    )
    out = spark.sql(
        f"SELECT CAST(col1 AS {t}) AS `{id_col}`, CAST(col2 AS DOUBLE) AS score"
        f" FROM VALUES {vals or '(NULL, NULL)'}"
    )
    return out if rows else out.limit(0)


def graph_beam_search(
    edges: DataFrame,
    emb: DataFrame,
    query_vector,
    k: int = 10,
    beam: int = 8,
    hops: int = 3,
    entry_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    result_filter=None,
    result_ids_df: DataFrame | None = None,
) -> DataFrame:
    """Graph-based ANN: fixed-hop best-first beam search over a prebuilt
    kNN graph — the DataFrame analogue of the reference's HNSW layer-0
    walk (ref:src/index.rs:68-79 navigates a proximity graph toward the
    query; HNSW's hierarchy only shortens the approach, the work happens
    in exactly this neighborhood walk). Modern graph-ANN engines
    (HNSW/NSG/Vamana) are all this loop with different graph builders.

    Per hop: expand the beam's out-neighbors, score every newly seen
    candidate against the query (6-dp rounded BEFORE ranking, id
    tiebreak — engine-reproducible), keep the best ``beam``; after
    ``hops`` rounds return the top ``k`` of EVERYTHING visited. Fixed
    ``hops``/``beam``/``entry_ids`` make the walk exactly replayable
    (the DuckDB oracle unrolls the same rounds), the same
    bounded-iteration contract as knn_pagerank/kcore_peel.

    Entry points default to the ``beam`` smallest ids — deterministic
    and cheap; production graphs keep medoid-ish entry lists instead.

    ``result_filter`` (a boolean Column over the vector table's columns)
    makes this FILTERED vector search — the reference's flagship
    combination (payload filter + ANN, ref:src/filtering.rs — its HNSW
    path post-filters too): the walk navigates the UNFILTERED graph
    (filtering edges mid-walk disconnects it — the classic
    filtered-HNSW failure), and the predicate gates only the final
    top-k. Low-selectivity filters need a larger ``beam``/``hops`` to
    keep k passing candidates in the visited set, exactly HNSW's
    ef-expansion rule of thumb.

    Scale shape: the walk is a coordinator-pruned candidate search
    (REPOSE's split: the coordinator prunes, only candidates are
    verified). The visited map (id -> 6-dp score) lives on the driver;
    it holds at most ``beam + hops * beam * out_degree`` entries, so its
    size never depends on the corpus. Each hop is ONE single-stage
    collect: the hop's new ids (<= beam * out_degree) are scored and
    their out-edges fetched together, as two pushed ``IN`` scans
    joined by a union (bucketed by id/src at 100 TB, each is a
    co-located point lookup). The frontier cut runs on the driver in
    Spark's ordering (score descending, NaN greatest, then id
    ascending). A hop therefore costs one job and no shuffle, where a
    Spark-side visited table needs a barrier per hop (an eager
    checkpoint, a shuffle-bearing job chain) or, fully lazy,
    re-evaluates every earlier hop ~3x per later hop. Ids on dangling
    edges (absent from ``emb``) come back unscored once and are dropped,
    as a scoring join drops them. The last hop fetches no edges, and a
    hop that finds no new id ends the walk (nothing can change).

    The gates run on the driver too: ``result_filter`` is evaluated in
    the scoring scan, and ``result_ids_df`` is probed once for the
    visited ids (one pushed ``IN`` collect). Each ``IN`` list is one SQL
    expression (:func:`~..functions.vector.id_in`), not one py4j literal
    per id. The result is the top
    ``k`` passing rows as a driver-local relation in result order, so
    reading it runs no job.
    """
    if beam < 1 or hops < 0 or k < 1:
        raise ValueError("beam, k must be >= 1; hops >= 0")
    from pyspark.sql.types import StringType

    from ..functions.vector import id_in

    spark = emb.sparkSession
    id_type = emb.schema[id_col].dataType
    score = F.round(cosine_vs_query(to_double_array(vec_col), query_vector), 6)
    passes = (
        F.lit(True)
        if result_filter is None
        else F.coalesce(result_filter, F.lit(False))
    )
    scored = emb.select(
        F.lit(False).alias("_edge"),
        F.col(id_col).alias("id"),
        score.alias("score"),
        passes.alias("_pass"),
        F.lit(None).cast(edges.schema["dst"].dataType).alias("dst"),
    )
    out_edges = edges.select(
        F.lit(True).alias("_edge"),
        F.col("src").alias("id"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("boolean").alias("_pass"),
        F.col("dst"),
    )
    visited: dict = {}  # id -> 6-dp score
    passing: set = set()  # visited ids that pass result_filter
    nbrs: dict = {}  # visited id -> out-neighbor ids (fetched when it may lead)
    dangling: set = set()

    def fetch(ids: list, with_edges: bool) -> None:
        part = scored.where(id_in("id", ids, id_type))
        if with_edges:
            part = part.unionByName(out_edges.where(id_in("id", ids, id_type)))
        for r in part.collect():
            if not r["_edge"]:
                visited[r["id"]] = r["score"]
                if r["_pass"]:
                    passing.add(r["id"])
            elif r["dst"] is not None:
                nbrs.setdefault(r["id"], set()).add(r["dst"])
        dangling.update(i for i in ids if i not in visited)

    if entry_ids is None:
        entries = [
            r[0] for r in emb.select(id_col).orderBy(id_col).limit(beam).collect()
        ]
    else:
        cast = str if isinstance(id_type, StringType) else int
        entries = [cast(i) for i in entry_ids]
    entries = [i for i in dict.fromkeys(entries) if i is not None]
    if entries:
        fetch(entries, hops > 0)
    for hop in range(hops):
        frontier = heapq.nsmallest(beam, visited.items(), key=_rank_key)
        fresh = {
            d for i, _ in frontier for d in nbrs.get(i, ())
        } - visited.keys() - dangling
        if not fresh:
            break
        fetch(list(fresh), hop < hops - 1)
    if result_ids_df is not None and passing:
        # the passing-id set comes from OUTSIDE the vector table (a
        # metadata filter on a documents table the walk never reads) —
        # the facade's filtered-search route
        probe = result_ids_df.select(id_col)
        passing &= {
            r[0]
            for r in probe.where(
                id_in(id_col, passing, probe.schema[id_col].dataType)
            ).collect()
        }
    # gate BEFORE the cut: gating the top-k would under-fill
    top = heapq.nsmallest(
        k, ((i, visited[i]) for i in passing), key=_rank_key
    )
    return _local_scores(spark, top, id_col, id_type)


def graph_beam_search_batch(
    edges: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 8,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Batch graph ANN — :func:`graph_beam_search` for a whole query
    table at once (the serving-throughput shape, cf. search.knn_batch):
    every query walks the SAME prebuilt graph simultaneously, so each
    hop is ONE edge-table probe and ONE scoring join for all queries
    together instead of a walk per query. Output
    ``(query_id, id, score, rank)`` with rank <= k, knn_batch-shaped.

    State per hop is (query_id, candidate) rows — <= queries x beam x
    out_degree, corpus-size independent; the per-query top-beam cut is a
    window over that bounded set (never over the corpus). Unlike the
    single-query walk, this state stays distributed: it grows with the
    number of queries, so it does not belong on the driver. The query
    table broadcasts (the small side by construction); the edge table is
    the big side and is probed by a frontier semi-join, co-located when
    bucketed by src. Entries default to the ``beam`` smallest ids for
    every query — deterministic, oracle-replayable (fixed hops/beam, 6-dp
    rounding before every ranking, id tiebreaks).
    """
    from pyspark.sql import Window

    if beam < 1 or hops < 0 or k < 1:
        raise ValueError("beam, k must be >= 1; hops >= 0")
    qv = to_double_array(query_vec)
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            qv.alias("_qv"),
            l2_norm(qv).alias("_qn"),
        )
    )
    cv = to_double_array(vec_col)
    ids_v = emb.select(
        F.col(id_col).alias("id"), cv.alias("_cv"), l2_norm(cv).alias("_cn")
    )

    def score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(ids_v, "id")
            .join(q, "query_id")
            .select(
                "query_id",
                "id",
                F.round(
                    cosine_from_parts(
                        dot(F.col("_cv"), F.col("_qv")),
                        F.col("_cn"),
                        F.col("_qn"),
                    ),
                    6,
                ).alias("score"),
            )
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    entry = (
        emb.select(F.col(id_col).alias("id")).orderBy("id").limit(beam)
        .crossJoin(q.select("query_id"))
    )
    visited = score(entry).localCheckpoint(eager=True)
    e = edges.select(F.col("src").alias("fid"), F.col("dst").alias("id"))
    for _ in range(hops):
        fr = (
            visited.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= beam)
            .select("query_id", F.col("id").alias("fid"))
        )
        nbrs = e.join(fr, "fid").select("query_id", "id").distinct()
        fresh = score(
            nbrs.join(visited.select("query_id", "id"), ["query_id", "id"], "left_anti")
        )
        # eager checkpoint per hop: state is <= queries x beam x degree
        # rows (KBs); without it the lazy chain re-evaluates every prior
        # hop ~3x per later hop
        visited = visited.unionByName(fresh).localCheckpoint(eager=True)
    return (
        visited.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .select(
            "query_id", "id", "score", F.col("_r").cast("int").alias("rank")
        )
    )


def knn_pagerank(
    edges: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    damping: float = 0.85,
    iterations: int = 3,
) -> DataFrame:
    """PageRank centrality over a directed :func:`knn_graph` — a fixed
    number of power iterations of ``pr = (1-d)/n + d * sum_in(pr/out)``.
    Central (high-pr) vectors sit in dense, well-connected regions and
    make good cluster prototypes / coreset picks; low-pr vectors are
    fringe or outlier mass. A bounded-iteration variant (not
    run-to-convergence) keeps the job count fixed and the result exactly
    reproducible, which is what lets a DuckDB oracle replay it.

    Scale shape: each iteration is one hash join of the rank table
    (n rows) with the weighted edge table (n*k rows) plus a
    map-side-combined groupBy(dst) — the textbook distributed PageRank
    step, shuffling only by id. Anti-hub nodes (no in-edges) get the
    teleport floor via a left join from the corpus id set. The single
    driver-side scalar is n (one count job on the usually-cached
    corpus). ``edges`` is scanned every iteration — pass a persisted
    table (the ingest cache does); the function deliberately does NOT
    persist internally so it never owns cache blocks it cannot release
    (the vocabulary-build lesson).
    """
    ids = corpus.select(F.col(id_col).alias("id"))
    n = ids.count()
    if n == 0:
        # the module's empty-input convention (kmeans_fit, _dim_of) —
        # not an opaque ZeroDivisionError from the 1/n teleport literal
        raise ValueError("empty corpus")
    deg = edges.groupBy("src").agg(F.count("*").alias("_od"))
    ew = edges.join(deg, "src").select(
        F.col("src"), F.col("dst"), (F.lit(1.0) / F.col("_od")).alias("w")
    )
    ranks = ids.select("id", F.lit(1.0 / n).alias("pr"))
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew.src == ranks.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") * F.col("w")).alias("_s"))
        )
        ranks = ids.join(contrib, "id", "left").select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("pr"),
        )
    return ranks.select(
        F.col("id").alias(id_col), F.round("pr", 6).alias("pagerank")
    )


def graph_triangle_stats(pairs: DataFrame) -> DataFrame:
    """Global triangle census of an undirected pair graph (columns
    ``a < b``): one row ``(n_edges, n_wedges, n_triangles,
    clustering_coefficient)`` with the global (transitivity) coefficient
    3*triangles / wedges — near 1 the graph is clique-like (dense
    near-dup neighborhoods), near 0 it is hub-and-spoke (hubs again).
    The standard embedding-graph health readout next to hubness and
    community structure.

    Scale shape: triangles enumerate via the ordered two-join (e1.b =
    e2.a joined back against the edge set on (a, c)) so every triangle
    a<b<c counts exactly once; cost is sum over nodes of deg^2, which a
    k-NN graph bounds by n*k^2. Wedges are a per-node degree aggregate
    (choose-2 sum). Everything shuffles by node id; nothing is
    quadratic in n.
    """
    e = pairs.select("a", "b")
    # wedges: degree from both endpoints
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2), F.lit(0.0)
        ).alias("n_wedges")
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(closing, ["x", "z"])
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    return (
        edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            F.col("n_edges").cast("bigint"),
            F.col("n_wedges").cast("bigint").alias("n_wedges"),
            F.col("n_triangles").cast("bigint"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coefficient"),
        )
    )


def knn_link_prediction(
    pairs: DataFrame,
    top_k: int = 20,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction over an undirected pair graph (e.g.
    :func:`mutual_knn_pairs`): for every NON-edge (x, y) sharing at
    least one neighbor, the common-neighbor count and Adamic-Adar score
    sum(1 / ln(deg(z))) over shared neighbors z (Adamic & Adar 2003,
    "Friends and neighbors on the Web") — the classic "these two
    documents are probably near-dups/related even though no retrieval
    step paired them" signal, used to densify a kNN graph before
    clustering. Returns the ``top_k`` rows ``(a, b, common, adamic_adar)``
    by (adamic_adar desc, a, b), a < b.

    Scale shape: candidate (x, y) pairs come from a self-join of the
    edge list on the shared endpoint z — sum-of-degree^2 work, the same
    wedge enumeration as :func:`graph_triangle_stats`, NOT corpus^2.
    Hub nodes dominate that sum, so ``max_degree`` (cap on deg(z))
    drops wedges through super-hubs — the standard sparsifier; at kNN
    graphs degree is already bounded by ~2k so the exact default is
    safe. Existing edges are removed with one edge-keyed anti-join, and
    the final top-k is engine TakeOrdered. ln(deg) is safe: a shared
    neighbor z of a non-edge wedge has deg(z) >= 2.
    """
    und = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    deg = und.groupBy(F.col("u").alias("z")).agg(F.count("*").alias("deg"))
    if max_degree is not None:
        deg = deg.where(F.col("deg") <= max_degree)
    # wedges x - z - y, x < y, weighted by z's inverse-log degree
    lz = und.select(F.col("v").alias("z"), F.col("u").alias("x"))
    wedges = (
        lz.join(lz.select("z", F.col("x").alias("y")), "z")
        .where(F.col("x") < F.col("y"))
        .join(deg, "z")
    )
    scored = wedges.groupBy(F.col("x").alias("a"), F.col("y").alias("b")).agg(
        F.count("*").cast("int").alias("common"),
        F.round(F.sum(1.0 / F.log(F.col("deg"))), 6).alias("adamic_adar"),
    )
    non_edges = scored.join(
        pairs.select("a", "b"), ["a", "b"], "left_anti"
    )
    return non_edges.orderBy(
        F.col("adamic_adar").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(top_k)


def kcore_peel(
    pairs: DataFrame,
    k: int = 3,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected pair graph:
    repeatedly drop nodes of degree < ``k`` (and their edges) ``rounds``
    times, then return the survivors ``(id, degree)`` with degrees over
    the surviving subgraph. The dense-core extractor for kNN graphs —
    survivors are the mutually-well-connected region (topic cores,
    near-dup families); peeled nodes are periphery/outliers. Full k-core
    is this iterated to a fixpoint; like :func:`knn_pagerank` the
    operator pins a FIXED iteration count so the result is exactly
    replayable (the oracle unrolls the same rounds), and kNN graphs'
    bounded degree makes 2-4 rounds reach the fixpoint in practice —
    callers can compare successive rounds to detect convergence.

    Scale shape per round: one map-side-combined degree aggregate + two
    semi-joins of the edge list against the (shrinking) survivor set —
    all edge-table-sized, nothing corpus-squared. Each round ends with an
    eager localCheckpoint of the surviving edge list (cf. cluster_pairs
    and graph_beam_search_batch): the round body references ``edges`` three
    times (degree agg + both semi-joins), so the lazy chain would
    re-evaluate prior rounds ~3x per later round — 3^rounds plan growth;
    the checkpoint makes each round one edge-table-sized job instead.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    _require_integer_ids(pairs, ("a", "b"), "kcore_peel")
    a, b = F.col("a").cast("long"), F.col("b").cast("long")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("u"), b.alias("v")),
                    F.struct(b.alias("u"), a.alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )
    for _ in range(rounds):
        deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("u")
        edges = edges.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        ).localCheckpoint(eager=True)
    return (
        edges.groupBy("u")
        .agg(F.count("*").cast("int").alias("degree"))
        .select(F.col("u").alias("id"), "degree")
    )
