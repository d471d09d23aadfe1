"""Corpus deduplication operators (LLM-data-pipeline additions).

The reference stops at exact-id upserts; a 100 TB training-data pipeline
needs content-level dedup. Five tiers, cheapest first:

- **exact**: md5(normalized text) group-by. One shuffle on a 16-byte key.
- **ngram Jaccard**: token n-gram shingles; candidate pairs via a
  shared-shingle equi-join (never the O(n^2) cross join), then exact
  Jaccard = |A∩B| / |A∪B| on the pair set.
- **MinHash-LSH**: per-doc signature of P independent 32-bit min-hashes,
  banded into B bands of R rows; pairs sharing a band bucket are
  candidates; verify with signature similarity (or exact Jaccard).
  At 100 TB this is THE scalable near-dup path: cost is P hashes per
  shingle (map-side) + one shuffle on (band, bucket-hash).
- **SimHash**: 64-bit weighted fingerprint (default bits=64); near-dups
  = small Hamming distance. Candidate generation is the pigeonhole
  band split: max_hamming+1 bands (4x16-bit at the defaults — ~65k
  keys per band, so a uniform corpus puts ~n/65k docs in a bucket);
  any pair within max_hamming matches exactly on >= 1 band. See
  simhash_pairs for the full scale analysis and the hot-bucket cap.
- **embedding cosine**: exact all-pairs cosine above a threshold as a
  distributed blocked GEMM; random-projection LSH bucketing
  (operators.ann) prunes the pairs at scale, then one exact verify.

All hashes go through functions.hashing.h32 (md5-derived) so the DuckDB
oracle reproduces results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h32, h32_word
from ..functions.text import tokens, word_grams, ws_tokens
from ..functions.vector import to_double_array


def _require_integer_ids(df: DataFrame, cols, where: str) -> None:
    """Refuse non-integer id columns up front: a silent cast('long') of
    string/UUID ids yields NULLs, which would collapse the edge table
    and make label propagation (and everything downstream —
    leakage_safe_split's singleton fallback!) quietly wrong. Map ids to
    longs (e.g. xxhash64 or a dense rank) before calling."""
    types = dict(df.dtypes)
    for c in cols:
        if types.get(c) not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"{where} needs integer ids; column {c!r} is "
                f"{types.get(c)} — map ids to longs first"
            )


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_docs, keep_id).

    keep_id = min doc id (the canonical survivor). Only groups with >1 doc
    are returned. Scale: one shuffle on the hash; map-side partial agg.
    NULL-text rows are excluded: md5(NULL) is NULL and groupBy treats
    NULLs as equal, so every failed-extraction row would collapse into
    one fake "byte-identical" group whose keep-one policy deletes
    documents that were never compared equal.
    """
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("doc_id"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct token n-grams per document."""
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    # token-less docs (all stopwords / short tokens) emit NO shingle —
    # not the '' fallback shingle, which would make every such doc a
    # mutual jaccard-1.0 "duplicate" of unrelated texts AND a quadratic
    # hot join key (N empty docs -> one bucket of N). Short-but-nonempty
    # docs keep the whole-doc shingle.
    sh = toked.select(
        "doc_id",
        F.explode(
            F.when(F.size("toks") >= n, word_grams(F.col("toks"), n))
            .when(F.size("toks") > 0, F.array(F.concat_ws(" ", F.col("toks"))))
            .otherwise(F.array().cast("array<string>")),
        ).alias("shingle"),
    )
    return sh.distinct()


def _shingle_candidates(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    shingles_df: DataFrame | None,
    max_shingle_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate generation for set-overlap dedup: the (possibly
    hot-capped) shingle table's per-doc sizes and the a<b pair
    intersection counts. Shingles with df > ``max_shingle_df`` are
    non-discriminative and dropped via a broadcast anti-join (the hot
    list is tiny by construction), bounding the self-join fan-out.
    Returns (sizes(doc_id, n_sh), inter(a, b, n_common))."""
    sh = (
        shingles_df
        if shingles_df is not None
        # LAZY persist, deliberately (see sparse.bm25_search_weighted):
        # checkpointing would run jobs at plan-construction time and cut
        # lineage; callers making repeated calls should build the
        # shingle table once and pass ``shingles_df``
        else shingles(df, n, id_col, text_col).persist()
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("n_common"))
    )
    return sizes, inter


def _overlap_ratio_tail(
    sizes: DataFrame,
    inter: DataFrame,
    ratio_col,
    out_name: str,
    threshold: float,
) -> DataFrame:
    """Shared sizes-join + round + threshold tail of the set-overlap
    family (:func:`ngram_jaccard_pairs` / :func:`containment_pairs`):
    attach per-doc shingle counts to the (a, b, n_common) intersections
    and keep pairs whose ``ratio_col`` (an expression over n_common /
    na / nb) clears ``threshold``. ONE definition of the join/round
    convention so the two normalizers can never silently diverge."""
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"),
            "a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"),
            "b",
        )
        .select("a", "b", F.round(ratio_col, 6).alias(out_name))
        .where(F.col(out_name) >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with a < b, jaccard >= threshold.

    Candidates come from a self-equi-join on shingle (only docs sharing at
    least one shingle meet), so cost is sum over shingles of df^2 — bounded
    by shingle frequency, not corpus^2. That bound is only real with
    ``max_shingle_df`` set: one stop-word shingle present in 1M docs makes
    its join key quadratic (10^12 pairs in ONE task). Shingles with
    df > max_shingle_df are non-discriminative (they match everything, so
    they identify nothing) and are dropped from the shingle set entirely —
    sizes and intersections both use the filtered set, the standard
    discriminative-shingle Jaccard. The hot list is tiny by construction
    (only keys above the cap), so it rides a broadcast anti-join — the big
    shingle table is never reshuffled for the filter.
    """
    sizes, inter = _shingle_candidates(
        df, n, id_col, text_col, shingles_df, max_shingle_df
    )
    return _overlap_ratio_tail(
        sizes,
        inter,
        F.col("n_common")
        / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        "jaccard",
        threshold,
    )


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
    train_shingles_df: DataFrame | None = None,
    eval_shingles_df: DataFrame | None = None,
    combined_shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Eval-set decontamination: (eval_id, train_id, overlap) pairs where
    ``overlap = |shared shingles| / |eval doc's shingles| >= threshold`` —
    the benchmark-leakage check every LLM training pipeline runs before
    training (an eval doc whose n-grams largely appear in some train doc
    is contaminated; the train doc gets dropped or the eval item flagged).

    Same shape as the near-dup self-join but CROSS-corpus: candidates
    from a shared-shingle equi-join between the two shingle tables (cost
    Σ_shingle df_train·df_eval — never |train|×|eval|), with the optional
    hot-shingle broadcast anti-join cap (computed over the combined df)
    bounding the worst key. Overlap is normalized by the EVAL side — the
    reference-set question is "how much of this eval item leaks", not
    symmetric Jaccard. Pass ``*_shingles_df`` to reuse an ingest-built
    shingle table (shingle once, slice by split — don't retokenize).
    """
    tsh = (
        train_shingles_df
        if train_shingles_df is not None
        else shingles(train, n, id_col, text_col)
    ).select(F.col("doc_id").alias("train_id"), "shingle")
    esh = (
        eval_shingles_df
        if eval_shingles_df is not None
        else shingles(eval_df, n, id_col, text_col)
    ).select(F.col("doc_id").alias("eval_id"), "shingle")
    if max_shingle_df is not None:
        # hot-shingle df over train + eval COMBINED. When the two slices
        # partition one ingest-built shingle table (the standard
        # decontamination setup), pass that table as
        # ``combined_shingles_df``: the union of two membership-filtered
        # scans of the same cache is the cache itself, and reading it
        # once halves the df pass (r11, guide §2.4). The caller
        # guarantees combined == tsh ∪ esh.
        both = (
            combined_shingles_df.select("shingle")
            if combined_shingles_df is not None
            else tsh.select("shingle").unionAll(esh.select("shingle"))
        )
        hot = (
            both.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        tsh = tsh.join(F.broadcast(hot), "shingle", "left_anti")
        esh = esh.join(F.broadcast(hot), "shingle", "left_anti")
    esizes = esh.groupBy("eval_id").agg(F.count("*").alias("n_sh"))
    inter = (
        esh.join(tsh, "shingle")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(esizes, "eval_id")
        .select(
            "eval_id",
            "train_id",
            F.round(
                F.col("n_common") / F.col("n_sh").cast("double"), 6
            ).alias("overlap"),
        )
        .where(F.col("overlap") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig array<bigint>) — sig[p] = word p%4 of md5 seeded p//4,
    minimized over the doc's shingles (hashing.h32_word derivation; sig[0]
    equals the legacy h32(shingle, 0)).

    Computed as one explode + groupBy with ``min`` aggregates — P min-aggs
    in a single shuffle, map-side combined. The md5 digests are projected
    ONCE per seed before the aggregate (ceil(P/4) md5 evals per shingle,
    not P — md5 dominates the map side at corpus scale), and the min runs
    over plain BIGINT columns. Docs with no shingles are absent (same as
    the tokenizer dropping empty docs).
    """
    sh = shingles_df if shingles_df is not None else shingles(df, n, id_col, text_col)
    n_seeds = (num_hashes + 3) // 4
    digests = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"_d{s}")
            for s in range(n_seeds)
        ],
    )
    words = digests.select(
        "doc_id",
        *[
            h32_word(F.col(f"_d{p // 4}"), p % 4).alias(f"h{p}")
            for p in range(num_hashes)
        ],
    )
    sigs = words.groupBy("doc_id").agg(
        *[F.min(f"h{p}").alias(f"h{p}") for p in range(num_hashes)]
    )
    return sigs.select(
        "doc_id", F.array(*[F.col(f"h{p}") for p in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
    signatures_df: DataFrame | None = None,
    bucket_cap: int | None = None,
    pair_chunk: int = 512,
) -> DataFrame:
    """Distinct candidate pairs (a, b) with a < b from the banded
    MinHash buckets — the UNVERIFIED stage of :func:`minhash_lsh_pairs`,
    exposed so candidate quality (precision/recall vs exact Jaccard)
    can be measured directly. ``signatures_df`` (a cached
    :func:`minhash_signatures` output with matching num_hashes) skips
    the signature build — the signature table is an ingest-maintained
    index exactly like doc_terms, so report/serving queries should
    thread the shared copy instead of re-aggregating the corpus.

    Per-row memory is bounded by ``pair_chunk`` (the
    :func:`hamming_pairs` rule): a bucket's sorted member array splits
    into chunk-index pairs before the pair structs materialize, so a
    hot bucket never flattens O(m^2) structs into ONE row (a 100k-doc
    template bucket would otherwise materialize ~5e9 structs in a
    single value — executor OOM). ``bucket_cap`` (None = exact S-curve
    guarantee, which is what the oracle checks) drops (band, bucket)
    groups past the cap from candidate generation via a broadcast
    anti-join — the hot-bucket rule every sibling candidate generator
    applies; set it (e.g. 10_000) for 100 TB template-heavy corpora."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    sigs = (
        signatures_df
        if signatures_df is not None
        else minhash_signatures(df, num_hashes, n, id_col, text_col, shingles_df)
    )
    # Within-bucket pairs from ONE groupBy, not a self-join: each side of
    # a self-join re-evaluates the whole shingle + md5 + min-agg
    # signature pipeline over the corpus (AQE does not reuse the
    # exchange — same measurement as the simhash/LSH paths). Pairs
    # explode from the sorted id array so a < b by construction; a pair
    # colliding in several bands still needs the distinct.
    bandrows = minhash_band_rows(sigs, num_hashes, bands)
    if bucket_cap is not None:
        hot = (
            bandrows.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > bucket_cap)
            .select("band", "bucket")
        )
        bandrows = bandrows.join(
            F.broadcast(hot), ["band", "bucket"], "left_anti"
        )
    c = int(pair_chunk)
    last_chunk = f"(size(ids) - 1) div {c}"
    chunked = (
        bandrows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            "ids",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {last_chunk}), i ->"
                    f" transform(sequence(i, {last_chunk}), j ->"
                    " named_struct('i', i, 'j', j))))"
                )
            ).alias("kp"),
        )
        .select(
            F.expr(f"slice(ids, kp.i * {c} + 1, {c})").alias("ca"),
            F.expr(f"slice(ids, kp.j * {c} + 1, {c})").alias("cb"),
            (F.col("kp.i") == F.col("kp.j")).alias("same"),
        )
    )
    mk = "named_struct('a', x, 'b', y)"
    return (
        chunked.select(
            F.explode(
                F.when(
                    F.col("same"),
                    # same chunk: upper triangle over the sorted members
                    F.expr(
                        "flatten(transform(ca, (x, p) ->"
                        f" transform(slice(cb, p + 2, size(cb)), y -> {mk})))"
                    ),
                ).otherwise(
                    # distinct chunks: full cross (globally sorted, so
                    # every ca element < every cb element)
                    F.expr(
                        f"flatten(transform(ca, x -> transform(cb, y -> {mk})))"
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def minhash_band_rows(
    sigs: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band, bucket) rows from a :func:`minhash_signatures`
    table: bucket = the comma-joined signature slice of the band. Narrow
    (one explode per doc); at corpus scale persist this AS the LSH index
    table, bucketed by (band, bucket), so candidate probes are
    co-located joins."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    # a signature built with a SMALLER num_hashes must fail loudly: the
    # out-of-range sig[i] is NULL and concat_ws silently SKIPS nulls, so
    # a mismatched cached signatures_df collapsed whole bands into one
    # '' bucket (quadratic candidate explosion) and aliased distinct
    # partial buckets — silent corruption, not an error
    bad = F.raise_error(
        F.concat(
            F.lit(
                f"minhash signature shorter than num_hashes={num_hashes}"
                " (got "
            ),
            F.size("sig").cast("string"),
            F.lit(
                " hashes) — was the signatures table built with a"
                " different num_hashes?"
            ),
        )
    )

    def _bucket(b: int):
        e = F.concat_ws(
            ",", *[F.col("sig")[b * r + i].cast("string") for i in range(r)]
        )
        return F.when(F.size("sig") >= num_hashes, e).otherwise(
            bad.cast("string")
        )

    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _bucket(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
    signatures_df: DataFrame | None = None,
    candidates_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, verified by exact
    n-gram Jaccard. Returns (a, b, jaccard) with a < b, jaccard >= threshold.

    rows-per-band R = num_hashes/bands; a pair collides iff some band's R
    hashes all match — P(collide) = 1-(1-j^R)^B, the standard S-curve.
    Shuffles: shingle-agg, band-bucket join, verification join.
    ``shingles_df``/``signatures_df``/``candidates_df`` thread the
    ingest-maintained index tables (and a cached candidate set from
    :func:`minhash_lsh_candidates`) so chained report queries reuse one
    scan each.
    """
    # ONE shingle table threads both stages: un-threaded, the candidate
    # path re-built its own inside minhash_signatures and the verify
    # referenced the plan four more times (a-join, b-join, two size
    # aggregates) — ~5 corpus-wide tokenize+distinct shuffles per call
    # (AQE does not reuse the exchanges). localCheckpoint, not persist:
    # no caller can unpersist a cache entry behind the lazily-returned
    # pair frame (the knn_graph rule).
    sh = (
        shingles_df
        if shingles_df is not None
        else shingles(df, n, id_col, text_col).localCheckpoint(eager=False)
    )
    cand = (
        candidates_df
        if candidates_df is not None
        else minhash_lsh_candidates(
            df, num_hashes, bands, n, id_col, text_col, sh,
            signatures_df,
        )
    )
    # Verify candidates with exact Jaccard over shingle sets.
    return _jaccard_verify(cand, sh, sh, threshold)


def _jaccard_verify(
    cand: DataFrame,
    a_sh: DataFrame,
    b_sh: DataFrame,
    threshold: float,
    a_name: str = "a",
    b_name: str = "b",
    restrict_to_candidates: bool = False,
    a_sizes_df: DataFrame | None = None,
    b_sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Shared exact-Jaccard verify tail: per-doc shingle sizes +
    shared-shingle intersection counts over candidate ``(a_name,
    b_name)`` pairs, jaccard = |∩| / (|A| + |B| - |∩|) rounded to 6 dp,
    kept at >= ``threshold``. ONE definition so the batched
    (minhash_lsh_pairs) and incremental (incremental_neardup_pairs)
    paths can never silently diverge on the convention.

    The intersection joins on the SHINGLE key (cand ⋈ a_sh on a, then
    b_sh on (b, shingle)) — only the a side's shingles replicate per
    pair, and only SHARED rows survive into the aggregate. The round-7
    union-shape experiment (replicating BOTH sides' full shingle sets
    per pair) cut sf0.1 job waves but blew sf1 up 3x (5.9 -> 19 s:
    per-pair corpus-side replication is exactly the volume this join
    avoids) — measured reason this shape is load-bearing; don't re-try.

    ``restrict_to_candidates`` (the incremental path, where ``b_sh`` is
    the 100 TB corpus shingle index): the b side's size aggregate and
    intersection input are cut to candidate ids by a BROADCAST semi-join
    (the id set is delta-bounded — batch banded collisions, capped by
    ``bucket_cap`` under skew); without the broadcast hint it's a
    sort-merge semi-join that shuffles the whole corpus shingle table.
    The a side (the delta itself) aggregates whole — it is batch-sized
    by construction, and skipping its restriction removes one of the
    candidate subtree's references (fewer AQE stage waves).

    ``a_sizes_df``/``b_sizes_df`` ((doc_id, n_sh) tables) skip the size
    aggregates entirely — the production shape stores per-doc shingle
    counts alongside the ingest-maintained index (one int per doc) and
    threads them here."""
    if restrict_to_candidates:
        b_ids = cand.select(F.col(b_name).alias("doc_id")).distinct()
        b_sh = b_sh.join(F.broadcast(b_ids), "doc_id", "left_semi")
    if a_sizes_df is not None:
        a_sizes = a_sizes_df.select("doc_id", F.col("n_sh").alias("na"))
    else:
        a_sizes = a_sh.groupBy("doc_id").agg(F.count("*").alias("na"))
    if b_sizes_df is not None:
        b_sizes = b_sizes_df.select("doc_id", F.col("n_sh").alias("nb"))
        if restrict_to_candidates:
            b_sizes = b_sizes.join(F.broadcast(b_ids), "doc_id", "left_semi")
    else:
        b_sizes = b_sh.groupBy("doc_id").agg(F.count("*").alias("nb"))
    inter = (
        cand.join(a_sh.selectExpr(f"doc_id as {a_name}", "shingle"), a_name)
        .join(b_sh.selectExpr(f"doc_id as {b_name}", "shingle"),
              [b_name, "shingle"])
        .groupBy(a_name, b_name)
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(a_sizes.selectExpr(f"doc_id as {a_name}", "na"), a_name)
        .join(b_sizes.selectExpr(f"doc_id as {b_name}", "nb"), b_name)
        .select(
            a_name,
            b_name,
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def incremental_neardup_pairs(
    batch_df: DataFrame,
    corpus_df: DataFrame | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_shingles_df: DataFrame | None = None,
    corpus_signatures_df: DataFrame | None = None,
    bucket_cap: int | None = None,
    batch_shingles_df: DataFrame | None = None,
    batch_signatures_df: DataFrame | None = None,
    batch_sizes_df: DataFrame | None = None,
    corpus_sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of a NEW batch against the EXISTING corpus — the daily
    operation of a 100 TB pipeline: never re-dedup the corpus, probe the
    ingest-maintained index with the day's delta. Returns
    ``(batch_id, corpus_id, jaccard)`` with exact n-gram Jaccard >=
    ``threshold``, candidate-filtered by the same banded MinHash scheme
    as :func:`minhash_lsh_pairs` (identical S-curve, identical hashes —
    a batch/corpus pair surfaces here iff the batched run over the union
    would surface it).

    Scale shape: the batch side is delta-sized, so every stage is
    "probe the index": batch shingles/signatures are computed fresh
    (narrow over the delta) unless threaded via
    ``batch_shingles_df``/``batch_signatures_df`` — a caller running
    several gates over ONE batch (the admission pipeline) builds them
    once and passes them to every gate, instead of re-tokenizing the
    batch per gate; the corpus side MUST be threaded via
    ``corpus_shingles_df``/``corpus_signatures_df`` (the persisted index
    tables — with them ``corpus_df`` itself is never read). The band
    join hits the corpus band table on (band, bucket) — bucketed, this
    is a co-located probe; the Jaccard verify touches only the
    candidate corpus docs' shingle rows (the join key restricts the
    scan). Batch docs identical to a corpus doc id will self-match with
    jaccard 1.0 — dedup the batch internally first.

    ``bucket_cap`` mirrors the batched family's skew guard: corpus
    (band, bucket) groups holding more than ``bucket_cap`` members (a
    templated-document pileup) are dropped from candidate generation via
    a broadcast anti-join BEFORE the probe, bounding a single hot bucket
    to ``bucket_cap`` candidate rows per batch doc. May miss pairs whose
    every shared bucket is hot; None (default) keeps exact banding
    semantics — what the oracle checks.
    """
    if corpus_df is None and (
        corpus_shingles_df is None or corpus_signatures_df is None
    ):
        raise ValueError(
            "pass corpus_df or BOTH corpus_shingles_df and corpus_signatures_df"
        )
    bsh = (
        batch_shingles_df
        if batch_shingles_df is not None
        else shingles(batch_df, n, id_col, text_col)
    )
    bsig = (
        batch_signatures_df
        if batch_signatures_df is not None
        else minhash_signatures(
            batch_df, num_hashes, n, id_col, text_col, shingles_df=bsh
        )
    )
    csh = (
        corpus_shingles_df
        if corpus_shingles_df is not None
        else shingles(corpus_df, n, id_col, text_col)
    )
    csig = (
        corpus_signatures_df
        if corpus_signatures_df is not None
        else minhash_signatures(
            corpus_df, num_hashes, n, id_col, text_col, shingles_df=csh
        )
    )
    cband = minhash_band_rows(csig, num_hashes, bands)
    if bucket_cap is not None:
        hot = (
            cband.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > bucket_cap)
            .select("band", "bucket")
        )
        cband = cband.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    cand = (
        minhash_band_rows(bsig, num_hashes, bands)
        .alias("x")
        .join(cband.alias("y"), ["band", "bucket"])
        .select(
            F.col("x.doc_id").alias("batch_id"),
            F.col("y.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    return _jaccard_verify(
        cand, bsh, csh, threshold,
        a_name="batch_id", b_name="corpus_id",
        restrict_to_candidates=True,
        a_sizes_df=batch_sizes_df, b_sizes_df=corpus_sizes_df,
    )


def incremental_admission(
    batch_df: DataFrame,
    corpus_df: DataFrame | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_shingles_df: DataFrame | None = None,
    corpus_signatures_df: DataFrame | None = None,
    bucket_cap: int | None = None,
    batch_shingles_df: DataFrame | None = None,
    batch_signatures_df: DataFrame | None = None,
    batch_sizes_df: DataFrame | None = None,
    corpus_sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Admission verdict per batch document: ``(doc_id, n_dups,
    max_jaccard, admit)`` — admit iff the doc has NO corpus near-dup at
    ``threshold`` (the gate in front of :func:`incremental_neardup_pairs`
    a pipeline applies before appending the day's delta). max_jaccard is
    0.0 for clean docs so the column is total and sortable."""
    pairs = incremental_neardup_pairs(
        batch_df, corpus_df, num_hashes, bands, n, threshold,
        id_col, text_col, corpus_shingles_df, corpus_signatures_df,
        bucket_cap, batch_shingles_df, batch_signatures_df,
        batch_sizes_df, corpus_sizes_df,
    )
    per_doc = pairs.groupBy("batch_id").agg(
        F.count("*").alias("n_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        batch_df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc.withColumnRenamed("batch_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(0)).cast("int").alias("n_dups"),
            F.round(F.coalesce("max_jaccard", F.lit(0.0)), 6).alias("max_jaccard"),
            (F.coalesce("n_dups", F.lit(0)) == 0).alias("admit"),
        )
    )


def _cluster_pairs_driver(spark, edges: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge table, vectorized on
    the driver: compact ids to dense indices (sorted, so the min index
    IS the min id), one numpy min-propagation sweep per round
    (``np.minimum.at`` over both edge directions) followed by pointer
    jumping to fixpoint (``lab = lab[lab]``). Labels are monotone
    non-increasing over a finite lattice and each outer round reaches
    strictly further, so this terminates in ≤ ~log2(diameter) outer
    rounds, each O(edges) vectorized — microseconds at the threshold
    size. Only called by :func:`cluster_pairs` under its documented
    ``small_graph_threshold`` bound."""
    import numpy as np
    import pandas as pd

    schema = "doc_id long, cluster_id long"
    pdf = edges.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    ab = pdf[["a", "b"]].to_numpy(dtype=np.int64)
    ids = np.unique(ab)  # sorted ascending: index order == id order
    ia = np.searchsorted(ids, ab[:, 0])
    ib = np.searchsorted(ids, ab[:, 1])
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lab
        nxt = lab.copy()
        # min over neighbors' labels, both directions (edges are already
        # symmetrized by the caller, but minimum.at is direction-agnostic
        # anyway and costs one fused pass per side)
        np.minimum.at(nxt, ia, lab[ib])
        np.minimum.at(nxt, ib, lab[ia])
        # pointer-jump to fixpoint: label <- label(label)
        while True:
            hop = nxt[nxt]
            if np.array_equal(hop, nxt):
                break
            nxt = hop
        lab = nxt
        if np.array_equal(lab, prev):
            break
    out = pd.DataFrame({"doc_id": ids, "cluster_id": ids[lab]})
    return spark.createDataFrame(out, schema)


def cluster_pairs(
    pairs: DataFrame,
    max_iter: int = 20,
    check_every: int = 3,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id)
    with cluster_id = the MIN doc id in the component. Pairs say "these
    two are dups"; production dedup needs the transitive closure — keep
    one survivor per CLUSTER (A~B, B~C => drop two of three even though
    A~C was never emitted).

    Min-label propagation: every node starts labeled with itself; each
    round takes min(own label, neighbors' labels) followed by one
    pointer-jump (label <- min(label, label(label))); converges in
    O(log diameter) rounds. Each round is shuffle work over the EDGE
    table only (pairs, not corpus).

    Driver-barrier batching: rounds are composed LAZILY in batches of
    ``check_every`` and materialized with ONE ``localCheckpoint`` plus
    ONE narrow convergence scan per batch — per-round checkpoints and
    per-round ``count()`` barriers made the driver's job-launch latency
    the critical path on filament-shaped kNN graphs (measured 8.5 s for
    knn_communities at sf0.1; each barrier becomes a full job launch at
    cluster scale). Labels are monotone non-increasing, so "the FINAL
    round of the batch changed nothing" is exactly the fixpoint test:
    once one full round produces zero changes every later round does
    too. The batch is clamped so a check lands at executed round
    ``max_iter + 1``; a still-changing final round there reproduces the
    unbatched failure condition bit-for-bit (monotonicity again: a
    change in round R > max_iter+1 implies a change in round
    max_iter+1). Lineage is truncated at every batch boundary —
    iterative plans MUST checkpoint or the accumulated join tree OOMs
    the planner itself (measured: a 10-hop chain blew the heap without
    it); at cluster scale use reliable ``checkpoint()`` so labels
    survive executor loss.

    Small-graph fast path: the edge table is persisted and counted
    anyway (the count materializes the cache the loop needs); when it
    holds at most ``small_graph_threshold`` directed edges (default 2M
    ≈ 32 MB of id pairs over Arrow — the same "small enough to move to
    one node" judgment as ``spark.sql.autoBroadcastJoinThreshold``) the
    components are solved in one vectorized numpy pass on the driver
    instead of launching O(log diameter) shuffle jobs. Near-dup pair
    tables are SPARSE by construction (banded/capped upstream), so even
    large corpora often land under the threshold; a 100 TB corpus whose
    pair table exceeds it takes the distributed loop below, whose
    per-round work is edge-table-sized. The collect is bounded by the
    threshold CONSTANT, not the corpus — the same bounded-artifact
    contract as collecting k-means centroids (``ann.py``). ``max_iter``
    governs only the distributed loop; the numpy path is exact
    (pointer-jumping to fixpoint, ≤ log2(n) vectorized rounds).
    """
    if check_every < 1:
        raise ValueError("check_every must be >= 1")
    _require_integer_ids(pairs, ("a", "b"), "cluster_pairs")
    # both edge directions from ONE pass over pairs — a unionAll of two
    # selects evaluates the (possibly expensive) upstream pair pipeline
    # twice; explode duplicates rows after the single evaluation
    a, b = F.col("a").cast("long"), F.col("b").cast("long")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("a"), b.alias("b")),
                    F.struct(b.alias("a"), a.alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist()
    )
    n_edges = edges.count()  # materializes the cache the loop reuses
    if n_edges <= small_graph_threshold:
        out = _cluster_pairs_driver(pairs.sparkSession, edges)
        edges.unpersist()
        return out
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
    ).localCheckpoint()
    def one_round(cur: DataFrame, carry_old: bool) -> DataFrame:
        """One min-propagation + pointer-jump round, composed lazily.

        Pointer jumping: label <- min(label, label(label)). Every label
        value IS some node's id, so one self-join composes the labeling
        with itself — convergence drops from O(diameter) rounds to
        O(log diameter) on chain-shaped components (kNN graphs are
        chains/filaments, unlike the clique-ish near-dup graphs). The
        label table is nodes-of-edges sized, so the extra join is far
        cheaper than the rounds it removes. ``carry_old`` threads the
        input label through as ``old`` so the batch's single
        convergence scan needs no extra join.
        """
        neighbor_min = (
            edges.join(cur, edges["b"] == cur["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        step_cols = [
            F.col("id"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("mid"),
        ]
        if carry_old:
            step_cols.insert(1, F.col("label").alias("old"))
        stepped = cur.join(
            neighbor_min, cur["id"] == neighbor_min["a"], "left"
        ).select(*step_cols)
        hop = stepped.select(
            F.col("id").alias("pid"), F.col("mid").alias("plabel")
        )
        out_cols = [
            F.col("id"),
            F.least(
                F.col("mid"), F.coalesce(F.col("plabel"), F.col("mid"))
            ).alias("label"),
        ]
        if carry_old:
            out_cols.insert(1, F.col("old"))
        return stepped.join(hop, stepped["mid"] == hop["pid"], "left").select(
            *out_cols
        )

    rounds_done = 0
    while True:
        # clamp so a convergence check lands exactly at executed round
        # max_iter + 1 — the round whose still-changing state the
        # unbatched loop treated as non-convergence
        batch = min(check_every, max_iter + 1 - rounds_done)
        cur = labels
        for i in range(batch):
            cur = one_round(cur, carry_old=(i == batch - 1))
        # ONE materialization + ONE narrow convergence scan per batch
        # (no join, no shuffle — a filter over blocks the checkpoint
        # just wrote)
        new_labels = cur.localCheckpoint()  # truncate lineage — docstring
        changed = (
            new_labels.where(F.col("label") != F.col("old")).limit(1).count()
        )
        rounds_done += batch
        labels = new_labels.select("id", "label")
        if changed == 0:
            # the final round of the batch was a no-op => fixpoint
            # (labels are monotone non-increasing)
            break
        if rounds_done >= max_iter + 1:
            # round max_iter+1 still changed labels — returning would
            # silently hand back partially-propagated labels (distant
            # nodes of a long chain in different clusters). Fail loudly.
            edges.unpersist()
            raise RuntimeError(
                f"cluster_pairs did not converge in max_iter={max_iter} "
                "rounds; a component's diameter exceeds max_iter — raise "
                "max_iter"
            )
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    labels: tuple[str, ...] = ("train", "valid", "test"),
    id_col: str = "doc_id",
    seed: int = 11,
    max_iter: int = 20,
) -> DataFrame:
    """Train/valid/test assignment where near-duplicates NEVER straddle
    splits: the split decision is made once per near-dup CLUSTER (via its
    representative, the minimum doc id), so a training document's
    near-copy cannot leak into the eval split — the dedup-aware split
    discipline from the training-data-dedup literature (a random per-doc
    split leaks one side of almost every dup pair).

    ``pairs`` is any (a, b) near-dup pair frame (MinHash-LSH, SimHash,
    embedding cosine — the caller picks the notion of "duplicate");
    documents in no pair are their own singleton cluster. The gate is a
    deterministic md5 hash of the representative, so assignment is
    reproducible across runs/engines and new unrelated documents never
    reshuffle old ones. Returns ``(doc_id, cluster_id, split)``.

    Scale: cluster_pairs label propagation over the edges (pairs-sized,
    not corpus-sized), one left join back to the corpus, then a narrow
    hash gate — nothing corpus-sized beyond the single join.
    """
    if len(fractions) != len(labels):
        raise ValueError("fractions and labels must have the same length")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fractions)}")
    # the corpus ids must be the SAME integer key space as the pairs: a
    # string-id df joined against the long cluster ids casts to NULL,
    # matches nothing, and silently degrades EVERY doc to the singleton
    # fallback — near-dups then straddle train/test, the exact quiet
    # contamination this function exists to prevent
    _require_integer_ids(df, [id_col], "leakage_safe_split")
    clusters = cluster_pairs(pairs, max_iter=max_iter)
    withc = df.select(F.col(id_col).alias("doc_id")).join(
        clusters, "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    gate = h32(F.col("cluster_id").cast("string"), seed=seed)
    expr = None
    acc = 0.0
    for frac, lab in zip(fractions[:-1], labels[:-1]):
        acc += frac
        cond = gate < int(acc * 4294967296.0)
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    expr = (
        F.lit(labels[-1]) if expr is None else expr.otherwise(labels[-1])
    )
    return withc.select("doc_id", "cluster_id", expr.alias("split"))


def _cosine_matrix(X, Y):
    """Cosine of every row of ``X`` against every row of ``Y`` as one BLAS
    matmul, rounded to 6 dp; zero-norm rows score 0.0 (the engine
    convention). The one cosine kernel of the exact pair and top-k
    builds (:func:`_gemm_pairs`, ``ann._block_local_topk``), so their
    rounding and zero-norm guard cannot diverge."""
    import numpy as np

    xn = np.sqrt((X * X).sum(axis=1))
    yn = np.sqrt((Y * Y).sum(axis=1))
    denom = xn[:, None] * yn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        S = np.where(denom > 0, (X @ Y.T) / denom, 0.0)
    return np.round(S, 6)


def _gemm_pairs(xids, yids, X, Y, same_block: bool, threshold: float):
    """Block-pair kernel of the exact threshold builds: pairs with cosine
    >= ``threshold`` as a pandas ``(a, b, cosine)`` frame with a < b —
    the upper triangle by id within one block, min/max-ordered ids
    across two — or None when no pair clears the threshold."""
    import numpy as np
    import pandas as pd

    S = _cosine_matrix(X, Y)
    mask = S >= threshold
    if same_block:
        mask &= xids[:, None] < yids[None, :]
    xi, yi = np.nonzero(mask)
    if not len(xi):
        return None
    return pd.DataFrame(
        {
            "a": np.minimum(xids[xi], yids[yi]),
            "b": np.maximum(xids[xi], yids[yi]),
            "cosine": S[xi, yi],
        }
    )


def _block_gemm(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int | None,
    rows_per_block: int,
    kernel,
    schema: str,
    groups: tuple[str, ...] = (),
    n_groups: int = 1,
) -> DataFrame:
    """The distributed blocked-GEMM fan-out shared by the exact cosine
    builds (embedding_neardup_pairs_gemm, semdedup_pairs, ann.knn_graph).

    Within each ``groups`` key (none, or e.g. an IVF ``cluster``) every
    vector gets ``block = pmod(id, n_blocks)``; one shuffle collects each
    (group, block) into aligned id and vector lists (two collect_lists
    over one grouped row stream stay aligned); a broadcast i <= j
    block-pair table fans the matrices out to one task per (group, i, j)
    (``n_groups`` sizes that repartition); and ``kernel(ids_a, ids_b, A,
    B, same_block)`` runs once per block pair with each side's ids sorted
    ascending and its matrix rows in that order, returning a pandas frame
    (or None) to which the group values are added. Without groups, a
    corpus of one block skips the shuffle: a single task streams it into
    one matrix. Every task holds at most two blocks; nothing is
    collected on the driver. pmod, not %: Spark's % keeps the dividend's
    sign, so a negative id would land in a block no pair covers.

    Non-integral ids raise before any job runs. ``n_blocks=None`` sizes
    the blocks from a count: ``ceil(n_rows / rows_per_block)``."""
    import math
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    _require_integer_ids(emb, [id_col], "a blocked cosine build")
    if n_blocks is None:
        n_blocks = max(1, math.ceil(emb.count() / rows_per_block))
    base = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"), *groups
    )

    def matrix(ids, vecs):
        ids = np.asarray(ids, dtype=np.int64)
        X = np.asarray(list(vecs), dtype=np.float64)
        o = np.argsort(ids)
        return ids[o], X[o]

    if n_blocks == 1 and not groups:
        def run_single(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            chunks = [pdf for pdf in batches if len(pdf)]
            if not chunks:
                return
            ids, X = matrix(
                np.concatenate([c["id"].to_numpy(np.int64) for c in chunks]),
                [row for c in chunks for row in c["v"]],
            )
            out = kernel(ids, ids, X, X, True)
            if out is not None:
                yield out

        return base.coalesce(1).mapInPandas(run_single, schema)
    # both join sides read mats: localCheckpoint, so the corpus scan and
    # the collect_list shuffle and merge run once (without it the final
    # aggregate ran per side: +12% shuffle read, ~10% slower knn_graph at
    # sf1). Not persist: no caller can unpersist a cache entry behind a
    # lazily returned frame; the checkpointed RDD frees via the
    # ContextCleaner once the result is GC'd. Lineage is truncated, so
    # an executor loss mid-build fails the (retryable) job.
    mats = base.withColumn(
        "block", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
    ).groupBy(*groups, "block").agg(
        F.collect_list("id").alias("ids"), F.collect_list("v").alias("vecs")
    ).localCheckpoint(eager=False)

    def side(s: str) -> DataFrame:
        return mats.select(
            *groups, F.col("block").alias(f"b{s}"),
            F.col("ids").alias(f"ids_{s}"), F.col("vecs").alias(f"vecs_{s}"),
        )

    block_pairs = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "ba int, bb int",
        )
    )
    joined = (
        side("a").join(block_pairs, "ba").join(side("b"), [*groups, "bb"])
        .repartition(
            n_groups * n_blocks * (n_blocks + 1) // 2, *groups, "ba", "bb"
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ai, A = matrix(row.ids_a, row.vecs_a)
                bi, B = matrix(row.ids_b, row.vecs_b)
                out = kernel(ai, bi, A, B, row.ba == row.bb)
                if out is not None:
                    for g in groups:
                        out[g] = getattr(row, g)
                    yield out

    return joined.mapInPandas(run, schema)


def embedding_neardup_pairs_gemm(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (a < b) as a **distributed
    blocked GEMM** (:func:`_block_gemm`) — the exact near-dup path at
    every scale:

    1. each vector gets ``block = id % B``; one shuffle aggregates each
       block into a dense matrix row (ids, flat vectors),
    2. a broadcast (i <= j) block-pair table fans the B matrices out to
       B(B+1)/2 tasks — the inherent all-pairs replication factor,
    3. each task runs ONE BLAS matmul (block_a x block_b^T) and emits the
       above-threshold id-ordered pairs via Arrow.

    The dot products run as n^2*d FLOPs inside BLAS, never as a per-pair
    Catalyst lambda, and no task holds more than two blocks (size
    n/B*d*8 bytes; pick B so that's tens of MB at your corpus size).

    ``n_blocks`` defaults to ``ceil(n_rows / rows_per_block)`` from a
    cheap count (parquet-metadata-fast), so a small corpus runs as one
    matmul task instead of fanning B(B+1)/2 near-empty Arrow tasks across
    the Python worker pool — the task fan-out only grows when the data
    does. Pass ``n_blocks`` explicitly to skip the count.
    """
    return _block_gemm(
        emb, id_col, vec_col, n_blocks, rows_per_block,
        lambda ai, bi, A, B, same: _gemm_pairs(ai, bi, A, B, same, threshold),
        "a long, b long, cosine double",
    )


#: Target expected bucket size for auto-sized RP-LSH. Total candidate
#: volume is n_tables * n * bucket/2 pairs, so the TARGET BUCKET is the
#: per-vector candidate multiplier — it must be a CONSTANT for the
#: pipeline to stay linear in n. The old 1e4 target was measured
#: super-linear on the sf1 scale run (199 s for 20k vectors: p floored
#: at 4, 1250-member buckets, 100M candidate pairs); 500 keeps
#: per-vector fan-out at ~2k candidates. Cost: more planes lower
#: per-table collision probability for true pairs — at 1e9 rows
#: (p=21) a cosine-0.9 pair collides per table with prob 0.9^21 ~ 0.11,
#: so raise ``n_tables`` (the OR amplifier) beyond the default 8 at
#: extreme scale; the S-curve math is in the function docstring.
LSH_TARGET_BUCKET = 500

#: Auto mode defaults ``bucket_cap`` to 10x the target expected bucket
#: once the corpus is big enough that a degenerate bucket is plausible.
LSH_AUTO_CAP_THRESHOLD = 1_000_000


def lsh_autosize_planes(
    n: int,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_planes: int = 4,
    max_planes: int = 30,
) -> int:
    """Hyperplanes per RP-LSH table sized to the corpus: the smallest
    ``p`` with expected bucket size ``n / 2^p <= target_bucket``, floored
    at ``min_planes`` (recall amplification needs a few planes even on a
    tiny corpus) and capped at ``max_planes`` (beyond ~2^30 buckets the
    bucket key itself is the bottleneck). Examples the sizing test pins:
    1e4 -> 5, 1e7 -> 15, 1e9 -> 21. The target (see LSH_TARGET_BUCKET)
    is the per-vector candidate multiplier, so it stays constant as n
    grows — that is what makes total candidate volume linear in n."""
    import math

    if n <= 0:
        return min_planes
    need = math.ceil(math.log2(max(n / target_bucket, 1.0)))
    return max(min_planes, min(max_planes, need))


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
    pair_chunk: int = 512,
    known_count: int | None = None,
) -> DataFrame:
    """(a, b, cosine) pairs with cosine >= threshold among vectors sharing
    ANY random-projection LSH bucket — THE 100 TB embedding-neardup path.

    Shape: (p AND, L OR)-amplified sign-bit buckets in one scan
    (ann.random_projection_tables — deterministic md5-derived
    hyperplanes, so the DuckDB oracle reproduces every bucket exactly),
    a (table, bucket)-equality self-join, DISTINCT over the candidate id
    pairs (a pair colliding in several tables verifies once), then the
    exact cosine verify. Work is bounded by L * sum(bucket_size^2), never
    all-pairs. Pair recall at angle theta is 1 - (1 - (1-theta/pi)^p)^L:
    the (4, 8) default holds ~0.8+ at cosine 0.5 where a single 8-plane
    table measured 0.14 (RECALL.md) — OR-amplification is what makes LSH
    usable below the S-curve knee; :func:`embedding_neardup_pairs_gemm`
    is the exact all-pairs companion that recall is measured against.

    Scale guards (both needed at corpus scale — with p planes there are
    only 2^p buckets per table, so n_planes MUST be sized to the corpus;
    expected bucket size n/2^p should stay ~1e4, e.g. p>=17 for 1e9
    vectors):

    * ``n_planes=None`` (the default) AUTO-SIZES: p =
      :func:`lsh_autosize_planes` of the corpus count (``known_count``
      if the caller already has it, else one count job), and
      ``bucket_cap`` — if also left None — defaults to
      ``10 * LSH_TARGET_BUCKET`` once the corpus exceeds
      :data:`LSH_AUTO_CAP_THRESHOLD` rows. Passing an explicit
      ``n_planes`` pins the bucket semantics exactly (what the DuckDB
      oracle checks) and applies no implicit cap — the previous unsafe
      shape (p=4 at 1e9 rows => ~4e15 candidate pairs per table) is now
      only reachable by writing it out.
    * ``bucket_cap`` mirrors :func:`simhash_pairs`: (tbl, bucket) groups
      holding more than ``bucket_cap`` ids are dropped from candidate
      generation via a broadcast anti-join BEFORE any per-bucket array is
      collected, so a degenerate bucket can never materialize a
      corpus-sized collect_list. Costs one extra count aggregation over
      the bucket table (only when set) and may miss pairs whose every
      shared bucket is hot. None + explicit n_planes = exact bucket
      semantics; set it (e.g. 10_000) for 100 TB runs.
    * Pair generation is CHUNKED: the sorted per-bucket id array is cut
      into ``pair_chunk``-sized slices and (chunk_i, chunk_j) index pairs
      explode to one row each, so no single row ever materializes more
      than pair_chunk^2 pair structs (~4 MB at the default 512) — the
      previous one-array-per-bucket flatten held O(bucket^2) structs in a
      single value, an executor OOM at exactly the bucket sizes a small
      ``n_planes`` produces. Total pair work is unchanged; rows stream
      through explode -> project -> DISTINCT.
    """
    from . import ann

    if n_planes is None:
        n = known_count if known_count is not None else emb.count()
        known_count = n  # reuse for the verify's block sizing
        n_planes = lsh_autosize_planes(n)
        if bucket_cap is None and n > LSH_AUTO_CAP_THRESHOLD:
            bucket_cap = 10 * LSH_TARGET_BUCKET
    buckets = ann.random_projection_tables(
        emb, n_planes=n_planes, n_tables=n_tables, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    if bucket_cap is not None:
        hot = (
            buckets.groupBy("tbl", "bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > bucket_cap)
            .select("tbl", "bucket")
        )
        buckets = buckets.join(F.broadcast(hot), ["tbl", "bucket"], "left_anti")
    # Within-bucket pairs from ONE groupBy, not a self-join: each side of
    # a self-join re-evaluates the n_tables x n_planes x dim projection
    # over the whole corpus (AQE does not reuse the exchange here —
    # measured 2x the dominant cost). Pairs explode from the sorted id
    # array so a < b by construction; chunking (above) bounds per-row
    # memory.
    ids = F.array_sort(F.collect_list("id"))
    c = int(pair_chunk)
    last_chunk = f"(size(ids) - 1) div {c}"
    kp_rows = (
        buckets.groupBy("tbl", "bucket")
        .agg(ids.alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            "tbl",
            "bucket",
            "ids",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {last_chunk}), i ->"
                    f" transform(sequence(i, {last_chunk}), j ->"
                    " named_struct('i', i, 'j', j))))"
                )
            ).alias("kp"),
        )
    )
    # Spread the quadratic pair explode across the cluster (guide §2.5):
    # AQE coalesces the tiny collect_list shuffle by BYTES and cannot
    # see the chunk^2 amplification below, so without this the pair
    # loops of every bucket land on one or two cores (same fix as
    # hamming_pairs — measured 2.1x there)
    kp_rows = kp_rows.repartition(
        buckets.sparkSession.sparkContext.defaultParallelism,
        "tbl", "bucket", "kp",
    )
    chunk_pairs = kp_rows.select(
        F.expr(f"slice(ids, kp.i * {c} + 1, {c})").alias("ca"),
        F.expr(f"slice(ids, kp.j * {c} + 1, {c})").alias("cb"),
        (F.col("kp.i") == F.col("kp.j")).alias("same"),
    )
    cand = (
        chunk_pairs.select(
            F.explode(
                F.when(
                    F.col("same"),
                    # same chunk: upper triangle (x at position p pairs
                    # with every later element)
                    F.expr(
                        "flatten(transform(ca, (x, p) ->"
                        " transform(slice(cb, p + 2, size(cb)), y ->"
                        " named_struct('a', x, 'b', y))))"
                    ),
                ).otherwise(
                    # distinct chunks: full cross product (ids sorted
                    # globally, so every ca element < every cb element)
                    F.expr(
                        "flatten(transform(ca, x -> transform(cb, y ->"
                        " named_struct('a', x, 'b', y))))"
                    ),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    return _block_cosine_verify(
        cand, emb, emb, threshold, "a", "b", id_col, vec_col,
        a_count=known_count, b_count=known_count,
    )


def _block_cosine_verify(
    cand: DataFrame,
    a_emb: DataFrame,
    b_emb: DataFrame,
    threshold: float,
    a_name: str = "a",
    b_name: str = "b",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    a_count: int | None = None,
    b_count: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact cosine verify of candidate id PAIRS — the one verify of the
    LSH near-dup paths — with per-BLOCK vector shipping (guide §8
    "decide with small rows, move big rows once"): pairs carry 16 bytes
    of ids, and vectors travel once per (a-block, b-block) verify task
    as two dense matrices (the _block_gemm idiom). Hydrating both
    64-double vectors onto every pair row instead carried ~1 KB per
    candidate across the Arrow boundary, and measured slower at sf0.1
    and sf1 (CHANGES.md). Tasks salt by pair hash only while Ba*Bb alone
    cannot fill the cluster (salt count = ceil(defaultParallelism /
    (Ba*Bb)), so big corpora pay zero matrix duplication and small ones
    stay parallel). ``a_count`` / ``b_count`` size the blocks; each one
    left None costs a count job.

    Per pair: a numpy row-gather, (A*A).sum / sqrt norms, a row-wise
    einsum dot, np.round(cos, 6), zero-norm -> 0.0. Ids absent from the
    vector tables drop (an inner-join contract); NULL vectors are
    excluded from the matrices. Requires integral ids (pmod blocking) —
    every caller's contract already.
    """
    import numpy as np
    import pandas as pd

    spark = cand.sparkSession
    v = to_double_array(vec_col)

    def _mats(emb: DataFrame, n: int):
        nblocks = max(1, -(-int(n) // rows_per_block))
        base = emb.select(F.col(id_col).alias("id"), v.alias("v")).where(
            F.col("v").isNotNull()
        )
        # two collect_lists over one grouped row stream stay aligned
        # (the knn_graph mats contract); localCheckpoint, not persist —
        # freed by the ContextCleaner with the returned plan
        m = (
            base.select(
                "id", "v",
                F.pmod(F.col("id"), F.lit(nblocks)).cast("int").alias("block"),
            )
            .groupBy("block")
            .agg(
                F.collect_list("id").alias("ids"),
                F.collect_list("v").alias("vecs"),
            )
            .localCheckpoint(eager=False)
        )
        return nblocks, m

    na = a_count if a_count is not None else a_emb.count()
    ba_n, mats_a = _mats(a_emb, na)
    if b_emb is a_emb:
        bb_n, mats_b = ba_n, mats_a
    else:
        nb = b_count if b_count is not None else b_emb.count()
        bb_n, mats_b = _mats(b_emb, nb)
    par = spark.sparkContext.defaultParallelism
    n_salt = max(1, -(-par // max(ba_n * bb_n, 1)))
    grouped = cand.groupBy(
        F.pmod(F.col(a_name), F.lit(ba_n)).cast("int").alias("_ba"),
        F.pmod(F.col(b_name), F.lit(bb_n)).cast("int").alias("_bb"),
        F.pmod(F.xxhash64(F.col(a_name), F.col(b_name)), F.lit(n_salt))
        .cast("int")
        .alias("_s"),
    ).agg(
        # two aligned collect_lists (one grouped row stream feeds both
        # buffers — the mats contract above): they cross into the worker
        # as plain numpy int arrays, where a struct list would cost one
        # python dict access per pair
        F.collect_list(F.col(a_name)).alias("pas"),
        F.collect_list(F.col(b_name)).alias("pbs"),
    )
    joined = grouped.join(
        mats_a.select(
            F.col("block").alias("_ba"),
            F.col("ids").alias("ids_a"),
            F.col("vecs").alias("vecs_a"),
        ),
        "_ba",
    ).join(
        mats_b.select(
            F.col("block").alias("_bb"),
            F.col("ids").alias("ids_b"),
            F.col("vecs").alias("vecs_b"),
        ),
        "_bb",
    )
    thr = float(threshold)

    def verify(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                ai = np.asarray(row.ids_a, dtype=np.int64)
                bi = np.asarray(row.ids_b, dtype=np.int64)
                pa = np.asarray(row.pas, dtype=np.int64)
                if not len(ai) or not len(bi) or not len(pa):
                    continue
                A = np.asarray(list(row.vecs_a), dtype=np.float64)
                Bv = np.asarray(list(row.vecs_b), dtype=np.float64)
                oa, ob = np.argsort(ai), np.argsort(bi)
                ai, A = ai[oa], A[oa]
                bi, Bv = bi[ob], Bv[ob]
                pb = np.asarray(row.pbs, dtype=np.int64)
                ia = np.clip(np.searchsorted(ai, pa), 0, len(ai) - 1)
                ib = np.clip(np.searchsorted(bi, pb), 0, len(bi) - 1)
                ok = (ai[ia] == pa) & (bi[ib] == pb)
                if not ok.any():
                    continue
                Aa, Bb = A[ia[ok]], Bv[ib[ok]]
                denom = np.sqrt((Aa * Aa).sum(axis=1)) * np.sqrt(
                    (Bb * Bb).sum(axis=1)
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(
                        denom > 0, np.einsum("ij,ij->i", Aa, Bb) / denom, 0.0
                    )
                cos = np.round(cos, 6)
                m = cos >= thr
                if m.any():
                    outs.append((pa[ok][m], pb[ok][m], cos[m]))
            if outs:
                yield pd.DataFrame(
                    {
                        a_name: np.concatenate([o[0] for o in outs]),
                        b_name: np.concatenate([o[1] for o in outs]),
                        "cosine": np.concatenate([o[2] for o in outs]),
                    }
                )

    return joined.mapInPandas(
        verify, f"{a_name} long, {b_name} long, cosine double"
    )


def incremental_embedding_neardup(
    batch_emb: DataFrame,
    corpus_emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_buckets_df: DataFrame | None = None,
    known_count: int | None = None,
) -> DataFrame:
    """Embedding-space twin of :func:`incremental_neardup_pairs`: cosine
    near-dups of a NEW batch against the EXISTING corpus via the
    corpus's RP-LSH bucket index. Returns ``(batch_id, corpus_id,
    cosine)`` with cosine >= ``threshold`` among cross pairs sharing ANY
    (tbl, bucket) — identical hashes to the batched
    :func:`embedding_neardup_pairs_lsh` run over the union, restricted
    to batch-x-corpus pairs.

    Scale shape: the batch bucket rows are delta-sized and probe the
    corpus bucket table on (tbl, bucket) (thread the PERSISTED index via
    ``corpus_buckets_df`` — then the corpus is only read to hydrate the
    candidate ids' vectors for the exact verify, a semi-join-restricted
    scan). ``n_planes=None`` auto-sizes to the CORPUS count exactly like
    the batched path — but ONLY when the buckets are computed here:
    with a prebuilt ``corpus_buckets_df`` the index's plane count must
    be passed explicitly (auto-sizing against a grown corpus would hash
    the batch with a different plane family than the index), and
    ``n_tables``/``seed`` must equal the index build's values for the
    same reason — none of the three is recoverable from the bucket rows,
    so persist them alongside the index (the hyperplanes are fully
    determined by (n_planes, n_tables, seed, dim))."""
    from . import ann

    if n_planes is None:
        if corpus_buckets_df is not None:
            # Auto-sizing hashes the batch with a plane count derived
            # from TODAY's corpus size — if the prebuilt index was cut
            # at a different p, the joined buckets come from different
            # plane families and candidate matches are hash-meaningless
            # (silently missed/spurious pairs). The index's p is not
            # recoverable from its rows, so demand it explicitly.
            raise ValueError(
                "pass the n_planes the prebuilt corpus_buckets_df was "
                "built with — auto-sizing cannot know the index's plane "
                "family (likewise n_tables and seed MUST match the index "
                "build; none of the three is recoverable from its rows)"
            )
        n = known_count if known_count is not None else corpus_emb.count()
        known_count = n  # reuse for the verify's block sizing
        n_planes = lsh_autosize_planes(n)
    cb = (
        corpus_buckets_df
        if corpus_buckets_df is not None
        else ann.random_projection_tables(
            corpus_emb, n_planes=n_planes, n_tables=n_tables, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    )
    bb = ann.random_projection_tables(
        batch_emb, n_planes=n_planes, n_tables=n_tables, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    cand = (
        bb.selectExpr("id as batch_id", "tbl", "bucket")
        .join(cb.selectExpr("id as corpus_id", "tbl", "bucket"),
              ["tbl", "bucket"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    return _block_cosine_verify(
        cand, batch_emb, corpus_emb, threshold,
        a_name="batch_id", b_name="corpus_id",
        id_col=id_col, vec_col=vec_col, b_count=known_count,
    )


def simhash(
    df: DataFrame, bits: int = 64, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash bigint) — classic Charikar fingerprint over distinct
    tokens: bit j of the term hash votes +1/-1; sign of the tally sets bit j.

    The fingerprint is built from ceil(bits/32) independent 32-bit words
    quartered out of ONE md5 digest per term (``h32_word`` — the hash
    family functions/hashing.py prescribes for SimHash: a 64-bit
    fingerprint costs one md5 evaluation per term, not one per word; md5
    dominates the map side at corpus scale), engine-portable up to 64
    bits (the DuckDB oracle reproduces the same words bit-for-bit via
    h32_word_sql).
    Bit 63 of a 64-bit fingerprint is the BIGINT sign bit — fingerprints are
    two's-complement signed, which is harmless: band extraction masks after
    the arithmetic shift and bit_count(xor) is sign-agnostic.

    Implemented as explode(term) -> ONE groupBy(doc_id) carrying ``bits``
    parallel sum aggregates (one per bit) — no row multiplication and a
    single map-side-combinable shuffle whose payload is ``bits`` longs per
    doc. The previous shape exploded every term row by ``bits`` (a 64x
    row multiplier through the first hash aggregate) and shuffled twice
    ((doc, bit) tallies, then doc); collapsing the bit dimension into the
    aggregate list halved its wall time at sf0.1 with bit-identical
    output. The ``bits`` CASE evaluations per term row stay inside one
    whole-stage-codegen hash aggregate.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    n_words = (bits + 31) // 32
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    terms = toked.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
    digest = F.md5(F.concat(F.lit("0:"), F.col("term")))
    hashed = terms.select(
        "doc_id", digest.alias("_dg")
    ).select(
        "doc_id",
        F.array(*[h32_word(F.col("_dg"), w) for w in range(n_words)]).alias(
            "hw"
        ),
    )
    tally = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"if((shiftright(element_at(hw, {j // 32 + 1}),"
                    f" {j % 32}) & 1) = 1, 1, -1)"
                )
            ).alias(f"_b{j}")
            for j in range(bits)
        ]
    )
    # distinct powers of two sum exactly to the two's-complement fingerprint
    # (shiftleft(1L, 63) is Long.MIN_VALUE; no intermediate overflow possible)
    fp = " + ".join(f"if(_b{j} > 0, shiftleft(1L, {j}), 0L)" for j in range(bits))
    return tally.select("doc_id", F.expr(fp).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) with Hamming(simhash) <= max_hamming.

    Candidate generation: split the fingerprint into (max_hamming+1) bands —
    by pigeonhole, any pair within max_hamming matches exactly on >=1 band,
    so a band-equality self-join finds all true pairs without O(n^2) work.

    Scale shape: 64-bit fingerprints with max_hamming=3 give 4 bands of
    16 bits = 65,536 keys per band, so a uniform corpus of n docs puts
    ~n/65k docs in a bucket (vs n/256 at the old 32-bit/8-bit-band
    parameterization, which went quadratic by ~1M docs). Real corpora are
    NOT uniform — boilerplate-heavy near-identical docs pile into one
    bucket in every band — so ``bucket_cap`` mirrors the hot-shingle cap
    of :func:`ngram_jaccard_pairs`: (band, key) buckets holding more than
    ``bucket_cap`` docs are dropped from candidate generation via a
    broadcast anti-join (the hot-bucket list is tiny by construction).
    This bounds per-task join fan-out at cap^2 per bucket at the cost of
    possibly missing pairs whose every matching band is hot (near-identical
    template cliques — exactly the pairs exact-dedup already catches).
    Default None = exact pigeonhole guarantee, which is what the oracle
    checks; set it (e.g. 10_000) for 100 TB runs.
    """
    sh = simhash(df, bits, id_col, text_col)
    return hamming_pairs(
        sh, bits=bits, max_hamming=max_hamming, bucket_cap=bucket_cap
    )


def hamming_pairs(
    hashes: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bucket_cap: int | None = None,
    pair_chunk: int = 512,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) over ANY integer-fingerprint table
    — the banded self-join engine behind :func:`simhash_pairs`, exposed
    so other fingerprint families (image perceptual hashes, audio
    hashes) reuse the same pigeonhole guarantee, hot-bucket cap, and
    single-evaluation grouped pair explode. See :func:`simhash_pairs`
    for the scale analysis. Bands are ``bits // (max_hamming + 1)`` wide;
    leftover high bits stay unbanded, which is still pigeonhole-exact
    (a pair's <= max_hamming differing bits spread over the banded
    region leave at least one band clean — unbanded differences never
    remove a candidate).

    Per-row memory is bounded by ``pair_chunk``: a bucket's sorted member
    array splits into chunk-index pairs before the pair structs
    materialize, so no single row holds more than pair_chunk^2 structs
    (the embedding_neardup_pairs_lsh trick) — a bucket AT a production
    bucket_cap of 10k would otherwise flatten ~5e7 structs into one row.

    Dedup strategy depends on capping: uncapped, each pair is kept only
    in its lowest matching band (all lower bands' xor sections nonzero —
    a codegen'd bit test, no distinct shuffle). With ``bucket_cap`` set,
    a pair's lowest matching band may be a CAPPED band it never reaches,
    so that filter would wrongly drop pairs a cold band found; the
    capped path dedups explicitly over the (already cap-bounded) pair
    stream instead.
    """
    nb = max_hamming + 1
    width = bits // nb
    if width < 1:
        raise ValueError(f"bits={bits} too small for {nb} bands")
    sh = hashes.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("simhash")
    )
    bandrows = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {b * width}) & {(1 << width) - 1}"
                        ).alias("key"),
                    )
                    for b in range(nb)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    if bucket_cap is not None:
        hot = (
            bandrows.groupBy("band", "key")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > bucket_cap)
            .select("band", "key")
        )
        bandrows = bandrows.join(F.broadcast(hot), ["band", "key"], "left_anti")
    # Within-bucket pairs from ONE groupBy, not a self-join — each side of
    # a self-join re-evaluates the whole simhash fingerprint pipeline
    # (explode x bits, two aggregations) over the corpus; the grouped
    # array explodes pairs after a single evaluation (same shape as
    # embedding_neardup_pairs_lsh's candidate step). Sort by doc_id so
    # a < b by construction; chunking bounds per-row memory.
    members = F.array_sort(F.collect_list(F.struct("doc_id", "simhash")))
    c = int(pair_chunk)
    last_chunk = f"(size(ms) - 1) div {c}"
    kp_rows = (
        bandrows.groupBy("band", "key")
        .agg(members.alias("ms"))
        .where(F.size("ms") > 1)
        .select(
            "band",
            "key",
            "ms",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {last_chunk}), i ->"
                    f" transform(sequence(i, {last_chunk}), j ->"
                    " named_struct('i', i, 'j', j))))"
                )
            ).alias("kp"),
        )
    )
    # Spread the quadratic pair explode (guide §2.5): the explode
    # amplification below is invisible to AQE's byte-based coalescing —
    # it happily packs every bucket's chunk rows into one or two
    # post-shuffle partitions, and one hot bucket (boilerplate cliques
    # collide in EVERY band) then runs cap'd-at-chunk^2 pair loops on a
    # single core while the rest idle. One cheap hash repartition of the
    # chunk-pair rows (each carries two <=pair_chunk member slices, not
    # pairs) spreads the explosion across the cluster: measured 1.83 s
    # -> 0.85 s on the pairs phase at sf0.1, identical output. The key
    # set (band, key, chunk pair) is plentiful relative to any
    # parallelism, so the hash spreads evenly.
    kp_rows = kp_rows.repartition(
        bandrows.sparkSession.sparkContext.defaultParallelism,
        "band", "key", "kp",
    )
    chunked = kp_rows.select(
        "band",
        F.expr(f"slice(ms, kp.i * {c} + 1, {c})").alias("ca"),
        F.expr(f"slice(ms, kp.j * {c} + 1, {c})").alias("cb"),
        (F.col("kp.i") == F.col("kp.j")).alias("same"),
    )
    mk = (
        "named_struct('a', x.doc_id, 'b', y.doc_id,"
        " 'x', x.simhash ^ y.simhash)"
    )
    exploded = chunked.select(
        "band",
        F.explode(
            F.when(
                F.col("same"),
                # same chunk: upper triangle over the sorted members
                F.expr(
                    "flatten(transform(ca, (x, p) ->"
                    f" transform(slice(cb, p + 2, size(cb)), y -> {mk})))"
                ),
            ).otherwise(
                # distinct chunks: full cross (globally sorted, so every
                # ca element < every cb element)
                F.expr(f"flatten(transform(ca, x -> transform(cb, y -> {mk})))")
            )
        ).alias("p"),
    )
    if bucket_cap is None:
        # First-matching-band filter: a pair within max_hamming matches on
        # up to nb bands and would be emitted once per matching band;
        # keeping it ONLY in the lowest matching band (all lower bands'
        # xor sections nonzero — a codegen'd bit test on p.x) makes each
        # pair unique by construction — no distinct shuffle over the
        # multiplied pair stream. Valid ONLY uncapped: every matching
        # band's bucket is guaranteed present.
        first_match = " ".join(
            f"WHEN {b} THEN ("
            + (
                " AND ".join(
                    f"(shiftright(p.x, {bp * width}) & {(1 << width) - 1}) != 0"
                    for bp in range(b)
                )
                or "true"
            )
            + ")"
            for b in range(nb)
        )
        pairs = exploded.where(
            F.expr(f"CASE band {first_match} ELSE false END")
        ).select("p.a", "p.b", F.expr("bit_count(p.x)").alias("hamming"))
    else:
        # capped: dedup explicitly — the pair stream is already bounded
        # by cap^2 per surviving bucket, so the distinct is cheap
        pairs = (
            exploded.select("p.a", "p.b", "p.x")
            .distinct()
            .select("a", "b", F.expr("bit_count(x)").alias("hamming"))
        )
    return pairs.where(F.col("hamming") <= max_hamming)


def semdedup_pairs(
    emb: DataFrame,
    assigned: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540) candidate pairs:
    semantic near-duplicates (cosine >= threshold, a < b) restricted to
    pairs that land in the SAME k-means cluster of a prebuilt IVF
    assignment table (``assigned``: (id, cluster), e.g. from
    ann.ivf_build — the very table the IVF search index persists, so the
    clustering is paid once at ingest and shared).

    Scale design: the cluster assignment IS the blocking — pairing cost
    drops from O(n^2) to sum_c n_c^2, and each cluster is further
    sub-blocked by ``pmod(id, nb)`` into the blocked-GEMM fan-out
    (:func:`_block_gemm` with ``cluster`` as its group column): one BLAS
    matmul per (cluster, i <= j) block pair, pairs streamed out via
    Arrow. ``nb`` scales with the LARGEST cluster so a hot cluster fans
    out across tasks instead of pinning one.
    """
    import math

    # size nb from the assignment table ALONE (id -> cluster, no vectors):
    # a cheap aggregate instead of an extra full emb-join pass.
    max_c, n_clusters = (
        assigned.groupBy("cluster").count()
        .agg(F.max("count"), F.count("*")).first()
    )
    nb = max(1, math.ceil((max_c or 0) / rows_per_block))
    return _block_gemm(
        emb.select(id_col, vec_col).join(
            assigned.select(F.col("id").alias(id_col), "cluster"), id_col
        ),
        id_col, vec_col, nb, rows_per_block,
        lambda ai, bi, A, B, same: _gemm_pairs(ai, bi, A, B, same, threshold),
        "a long, b long, cluster int, cosine double",
        groups=("cluster",),
        n_groups=max(1, n_clusters),
    )


def semdedup_prune(pairs: DataFrame) -> DataFrame:
    """SemDeDup's keep-one policy over candidate pairs: a document is
    REMOVED iff some same-cluster neighbor with a smaller id matches it
    (deterministic canonical-survivor rule — the paper keeps an arbitrary
    exemplar per connected group; min-id is the engine-portable choice).
    Returns (vec_id, cluster, kept_by, n_dups): the removed id, its
    cluster, the smallest matching neighbor, and how many smaller-id
    neighbors matched. One map-side-combined groupBy on the pair stream.
    """
    return pairs.groupBy(
        F.col("b").alias("vec_id"), "cluster"
    ).agg(
        F.min("a").alias("kept_by"),
        F.count("*").alias("n_dups"),
    )


def _positional_grams(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared token/gram extraction for the exact-substring span family:
    (base(doc_id, toks, n_tokens), grams(doc_id, pos, gram)) with grams
    exploded from every token position (0-based) of the
    whitespace-lowered token stream. One explode, corpus-token-count
    rows — both span operators read the SAME construction so their
    owner/coverage pairing can never drift. posexplode_outer + IS NOT
    NULL, not a size filter or an inner posexplode: those copy the
    tokenizer into a pushed-down filter (functions.text.doc_terms)."""
    toks = ws_tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n_tokens")
    )
    grams = base.select(
        "doc_id",
        F.posexplode_outer(word_grams(F.col("toks"), n)).alias("pos", "gram"),
    ).where(F.col("gram").isNotNull())
    return base, grams


def dup_span_coverage(
    df: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-text coverage in the spirit of exact
    substring dedup (Lee et al., 2022, arXiv:2107.06499, "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    DUPLICATED if some corpus-frequent token n-gram (appearing in
    >= min_df distinct documents) covers it. Returns
    (doc_id, n_tokens, n_dup_ngrams, dup_token_frac) for every document —
    the fraction drives span-level filtering policies the same way the
    suffix-array pass does in the paper, at a bounded n-gram granularity
    that stays relational.

    Scale: positions explode n-grams once (corpus token count rows), the
    document-frequency pass is one map-side-combined groupBy on the gram,
    and coverage re-explodes ONLY the matched positions (n rows each).
    No driver state; frequent-gram table stays distributed (it is NOT
    broadcast — its size is corpus-dependent).
    """
    base, grams = _positional_grams(df, n, id_col, text_col)
    freq = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .where(F.col("df_docs") >= min_df)
        .select("gram")
    )
    hits = grams.join(freq, "gram")
    covered = (
        hits.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("ti"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered"))
    )
    ndup = hits.groupBy("doc_id").agg(F.count("*").alias("n_dup"))
    return (
        base.select("doc_id", "n_tokens")
        .join(ndup, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("int").alias("n_dup_ngrams"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_token_frac"),
        )
    )


#: Karp-Rabin base for the winnowing k-gram hash. Odd, so the family is
#: well-mixed mod 2^32; shared with the DuckDB oracle's literal power
#: list (``__spark_entry__._winnow_sql``).
WINNOW_HASH_BASE = 1000003
_WINNOW_MOD = 1 << 32


def winnow_gram_powers(k: int, base: int = WINNOW_HASH_BASE) -> list[int]:
    """``[base^0, ..., base^(k-1)] mod 2^32`` — the per-character weights
    of the winnowing polynomial k-gram hash, exported so the DuckDB
    oracle can embed them as literals and reproduce the hash exactly."""
    out, p = [], 1
    for _ in range(k):
        out.append(p)
        p = (p * base) % _WINNOW_MOD
    return out


def winnow_fingerprints(
    df: DataFrame,
    k: int = 10,
    w: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    — the MOSS algorithm): hash every character k-gram of the
    whitespace-normalized lowercased text, slide a window of ``w``
    consecutive hashes, and keep each window's minimum. Guarantees every
    match of length >= k + w - 1 shares a fingerprint, with expected
    density 2/(w+1) — the standard local fingerprinting scheme for
    near-dup and plagiarism detection. Returns the distinct
    (doc_id, fp) pairs — a join on fp yields candidate pairs exactly like
    the MinHash band buckets.

    The k-gram hash is a degree-(k-1) polynomial over unicode code
    points, ``sum(cp[t] * BASE^(m-1-t)) mod 2^32`` (BASE =
    :data:`WINNOW_HASH_BASE`) — engine-portable like ``h32`` but, unlike
    md5, computable as a vectorized numpy sliding dot product. The
    previous Catalyst-lambda form (one interpreted substr+md5 per
    CHARACTER plus an O(L*w) slice-min) burned ~2.5 ms of CPU per 5 KB
    doc and was the single slowest bench query (12.3 s at sf0.1); this
    mapInPandas kernel does the same work in O(L) numpy ops per doc.

    Scale: ENTIRELY narrow — one Arrow-batched map over the corpus, zero
    shuffles (the terminal distinct is per-doc via np.unique). Documents
    shorter than k or with fewer than w k-grams degrade gracefully to a
    single whole-text window, matching textanalysis.fingerprints'
    min_gram_hash convention.
    """
    import numpy as np
    import pandas as pd

    pw = np.array(winnow_gram_powers(k), dtype=np.uint64)
    wts = pw[::-1].copy()  # B^(k-1) ... B^0: weight of char t in a k-gram
    mod = np.uint64(_WINNOW_MOD)
    swv = np.lib.stride_tricks.sliding_window_view

    def kernel(batches):
        for pdf in batches:
            ids_out: list[str] = []
            fp_chunks: list[np.ndarray] = []
            for did, s in zip(pdf["doc_id"], pdf["s"]):
                s = s or ""
                # utf-32 view = unicode code points, matching DuckDB's
                # ascii() / Spark's substr character semantics
                cp = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                ln = cp.shape[0]
                if ln == 0:
                    h = np.zeros(1, dtype=np.uint64)
                elif ln < k:
                    # single short gram: weights B^(L-1) ... B^0
                    h = np.array(
                        [(cp * pw[ln - 1 :: -1]).sum() % mod], dtype=np.uint64
                    )
                else:
                    # exact in uint64: cp < 2^21, weight < 2^32, k sums
                    h = (swv(cp, k) @ wts) % mod
                if h.shape[0] <= w:
                    fp = h.min(keepdims=True)
                else:
                    fp = swv(h, w).min(axis=1)
                fp = np.unique(fp)
                ids_out.extend([did] * fp.shape[0])
                fp_chunks.append(fp)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids_out, dtype=pdf["doc_id"].dtype),
                        "fp": np.concatenate(fp_chunks).astype(np.int64),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].iloc[:0],
                        "fp": pd.Series([], dtype="int64"),
                    }
                )

    # Normalization stays a CATALYST expression (lower + \s+ collapse +
    # trim), NOT Python string ops: Python's unicode-aware \s / .strip()
    # / one-to-many .lower() ('İ' -> 'i' + combining dot) all diverge
    # from the SQL engines' semantics — the kernel receives text already
    # normalized on the same surface the DuckDB oracle replicates.
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col).alias("doc_id"), norm.alias("s"))
    id_type = base.schema["doc_id"].dataType.simpleString()
    return base.mapInPandas(kernel, f"doc_id {id_type}, fp bigint")


def trim_duplicate_spans(
    df: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring span REMOVAL (the action half of
    :func:`dup_span_coverage`, after Lee et al. 2022, arXiv:2107.06499):
    every corpus-frequent token n-gram (>= ``min_df`` distinct docs)
    keeps its text only in the OWNER document — the smallest doc_id
    containing the gram — and the covered token positions are cut from
    every other document, so one copy of each duplicated span survives
    corpus-wide. Returns (doc_id, n_tokens, n_removed, trimmed_text)
    for every input document.

    Scale shape: the gram table explodes once (corpus token count
    rows); ownership is the same map-side-combined groupBy that
    computes document frequency (min(doc_id) rides along for free);
    non-owner coverage re-explodes only matched positions. Reassembly
    is one posexplode + anti-join + sort-in-group concat — the single
    token-granular shuffle, bounded by corpus token count. No driver
    state, no broadcast of corpus-sized tables.
    """
    base, grams = _positional_grams(df, n, id_col, text_col)
    owners = (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("df_docs"),
            F.min("doc_id").alias("owner"),
        )
        .where(F.col("df_docs") >= min_df)
        .select("gram", "owner")
    )
    cut = (
        grams.join(owners, "gram")
        .where(F.col("doc_id") != F.col("owner"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("ti"),
        )
        .distinct()
    )
    pos_toks = base.select(
        "doc_id", F.posexplode_outer("toks").alias("ti", "tok")
    ).where(F.col("tok").isNotNull())
    kept = pos_toks.join(cut, ["doc_id", "ti"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("ti"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
        ).alias("trimmed_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs: (a, b, containment) with a < b
    and containment = |A ∩ B| / min(|A|, |B|) >= threshold over distinct
    token n-gram shingle sets. Jaccard misses subset duplication — a doc
    quoted whole inside a much larger doc scores |A|/|B| ≈ 0 Jaccard but
    1.0 containment — and subset duplication is exactly what
    quote-heavy / scraped-concatenation corpora are full of.

    Candidate generation is the SAME code path as
    :func:`ngram_jaccard_pairs` (:func:`_shingle_candidates` — shared
    shingle equi-join bounded by shingle df, hot-shingle broadcast
    anti-join cap); only the normalizer differs (min instead of union).

    Negative result (r12, measured): exact df-ordered PREFIX filtering
    (PPJoin-style — probe the smaller doc's first floor((1-t)|X|)+1
    rarest shingles against a full index, verify via array_intersect)
    cut candidates 1.2M -> 0.38M at sf0.1 but ran 2.5x SLOWER end to end
    (2.46 -> 5.4s quiet): the exact verify must re-join both docs' full
    shingle ARRAYS (fat string payloads) where this shape's verify is a
    count already produced by the candidate join itself, and the PPJoin
    position filter killed only 2.6% more (templated corpora share
    mid-frequency shingles early in the prefix order). The quadratic
    term the prefix filter targets is ALREADY linearized here: with
    df <= max_shingle_df the join volume is bounded by
    max_shingle_df * |shingle rows|, linear in corpus size.
    """
    sizes, inter = _shingle_candidates(
        df, n, id_col, text_col, shingles_df, max_shingle_df
    )
    return _overlap_ratio_tail(
        sizes,
        inter,
        F.col("n_common") / F.least(F.col("na"), F.col("nb")).cast("double"),
        "containment",
        threshold,
    )


def duplication_report(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group exact-duplication report: (group, n_docs, n_unique,
    dup_rate) with dup_rate = 1 - unique/docs over whitespace-normalized
    md5 text hashes — the first number a curation run reports per source,
    and the input to "drop source X, it's a mirror" decisions.

    One map-side-combined groupBy over (group, hash) then one over
    group; no text ever shuffles (only 16-byte digests).
    """
    normed = F.md5(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    )
    # a NULL-text row is its OWN unique document (keyed by id), never a
    # copy: md5(NULL) hash-groups every failed-extraction row together,
    # which inflated dup_rate to ~1.0 for sources that contain no
    # duplicated text at all (and got them dropped as mirrors)
    h = F.coalesce(
        normed, F.concat(F.lit("\x00null:"), F.col(id_col).cast("string"))
    )
    per_hash = df.select(
        F.col(group_col).alias("group"), h.alias("_h")
    ).groupBy("group", "_h").agg(F.count("*").alias("n"))
    return per_hash.groupBy("group").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.round(
            F.lit(1.0) - F.count("*") / F.sum("n").cast("double"), 6
        ).alias("dup_rate"),
    )


def memorization_risk(
    df: DataFrame | None = None,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document memorization-risk report: what fraction of a doc's
    distinct token n-grams also occur in at least one OTHER document.
    Duplicated text is what language models memorize (and leak) first —
    Lee et al. 2022 (arXiv:2107.06499) and Carlini et al. 2022
    (arXiv:2202.07646) both tie verbatim regurgitation to training-set
    repetition — so a doc whose n-gram content is largely shared is a
    regurgitation amplifier even when no single whole-doc duplicate
    exists. Returns ``(doc_id, n_grams, n_shared, mem_risk)`` with
    ``mem_risk = n_shared / n_grams`` rounded to 6dp.

    Scale shape: reuses the ingest-built doc-distinct shingle table
    (pass ``shingles_df``); the n-gram document frequency is one
    map-side-combined groupBy(shingle); the join back happens on the
    same shingle hash partitioning (no extra exchange); the per-doc
    rollup is one groupBy(doc_id) shuffle bounded by the shingle-table
    size. Nothing is pairwise — cost is linear in total shingles, which
    is what lets the report run corpus-wide at 100 TB while the
    pair-based dedup tiers run on LSH candidates only.
    """
    if df is None and shingles_df is None:
        raise ValueError("pass df or shingles_df")
    sh = (
        shingles_df
        if shingles_df is not None
        else shingles(df, n, id_col, text_col).persist()
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("_df") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_grams").cast("double"), 6
            ).alias("mem_risk"),
        )
    )
