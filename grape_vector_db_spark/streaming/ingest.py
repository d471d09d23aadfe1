"""Structured Streaming ingestion (capability ADDITION — SURVEY §2.9).

The reference has no streaming layer; its ingestion is request-at-a-time
upsert with an immediate full index rebuild (src/lib.rs:317-356 —
O(corpus) per insert!). The Spark-native replacement streams into the
facade: ``GrapeVectorDB.stream`` starts a foreachBatch sink (``_start``
below) whose every micro-batch is one ``add_documents`` call, so the
documents, the embeddings and every index move together per batch,
through the same merge, index maintenance and commit as a batch upsert.

This module holds the stream operators that are their own capability:

- ``stream_upsert_to_parquet``: foreachBatch MERGE of a micro-batch
  into one table (parquet versioned swap, or ``fmt="delta"``);
- curation, dedup and admission-gated ingest, which clean or gate a
  micro-batch before it merges;
- standing HyperLogLog, Bloom and Count-Min sketch tables;
- ``windowed_event_counts`` / ``anomaly_alert_stream``: event-time
  windows with a watermark for late data, and a z-score gate.

On plain parquet each micro-batch publishes new table versions through
sources.tables.publish_table, whose commit point is one rename of a
stage holding the data, _STATS.json and _SUCCESS: a crash mid-batch
leaves readers on the previous version or on the whole new one, and the
replayed batch publishes normally. foreachBatch
runs one micro-batch at a time, so a stream never races itself; a second
writer on the same table races to a single winner, and the loser's batch
fails with ConcurrentMergeError (nothing published) for the restarted
query to replay from its checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import (
    _dedup_updates,
    merge_upsert,
    publish_table,
    read_table,
    table_exists,
    upsert_table,
)


def _start(stream_df: DataFrame, body, checkpoint: str | None, trigger_once: bool):
    """Start ``body`` as the foreachBatch sink of ``stream_df`` (update
    mode), resuming from ``checkpoint`` when given; ``trigger_once``
    drains what is available and stops. Returns the StreamingQuery."""
    writer = stream_df.writeStream.foreachBatch(body).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    trigger_once: bool = True,
    fmt: str = "parquet",
):
    """writeStream.foreachBatch MERGE of a streaming micro-batch into a
    parquet table (swap-on-write) or, with fmt="delta", a Delta table
    (transactional MERGE). Returns the StreamingQuery."""
    spark = stream_df.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        upsert_table(spark, table_path, batch, id_col=id_col, fmt=fmt)

    return _start(stream_df, _merge, checkpoint, trigger_once)


def stream_curate_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """Streaming curation ingest: each micro-batch is PII-scrubbed and
    C4-line-filtered BEFORE it merges into the documents table, so the
    stored corpus only ever contains cleaned, kept documents — the
    streaming twin of the batch ``curation_pipeline`` front half. Both
    passes are narrow maps (operators.curation), so the per-batch cost is
    one scan; dropped docs (keep = false) never reach the table.
    """
    from ..operators.curation import c4_line_filter, pii_redact

    spark = stream_df.sparkSession

    def _curate(batch: DataFrame) -> DataFrame:
        # one row per id BEFORE the rejoin-by-id joins below: duplicate
        # batch ids would otherwise cross-product through them (2 copies
        # -> up to 16 rows for one id on the first-batch publish)
        batch = _dedup_updates(batch, id_col)
        scrubbed = pii_redact(batch, id_col=id_col, text_col=text_col).select(
            F.col("doc_id").alias(id_col), F.col("clean_text")
        )
        others = [c for c in batch.columns if c != text_col]
        rejoined = batch.select(*others).join(scrubbed, id_col)
        kept = (
            c4_line_filter(
                rejoined, min_words=min_words, id_col=id_col,
                text_col="clean_text",
            )
            .where("keep")
            .select(F.col("doc_id").alias(id_col), F.col("clean_text"))
        )
        return (
            rejoined.drop("clean_text")
            .join(kept, id_col)
            .withColumnRenamed("clean_text", text_col)
        )

    def _merge(batch: DataFrame, batch_id: int) -> None:
        upsert_table(spark, table_path, _curate(batch), id_col=id_col)

    return _start(stream_df, _merge, checkpoint, trigger_once)


def stream_dedup_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """Dedup-on-ingest: each micro-batch is deduplicated BEFORE it merges,
    so the stored corpus stays duplicate-free without ever re-deduping
    the whole table — the streaming twin of the batch dedup family.

    Per batch: (1) batch-internal exact dedup (keep the smallest id per
    md5(text)); (2) cross-corpus near-dup drop — batch docs whose n-gram
    shingle overlap with ANY stored document reaches ``threshold`` are
    rejected (operators.dedup.contamination_pairs with the stored corpus
    as the reference side — the shared-shingle equi-join, never
    batch x corpus). Batches are micro-batch-sized, so the join's batch
    side is small by construction; the corpus side streams through the
    equi-join shuffle.
    """
    from ..operators.dedup import contamination_pairs, ngram_jaccard_pairs

    spark = stream_df.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        # one row per id first (the merge's own deterministic rule —
        # the first-batch publish goes straight to the table, so a
        # duplicated id would be stored twice PERMANENTLY: merge_upsert
        # assumes a unique existing side and never repairs it) ...
        batch = _dedup_updates(batch, id_col)
        # ... then exact-text dedup ACROSS ids. NULL-text rows (metadata
        # updates) must not collapse together — md5(NULL) is NULL, which
        # would put every such row in ONE partition and drop all but the
        # smallest id — so they key by their own (unique) id instead.
        w = Window.partitionBy(
            F.coalesce(F.md5(F.col(text_col)), F.col(id_col).cast("string"))
        ).orderBy(F.col(id_col).asc())
        uniq = (
            batch.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .drop("_rk")
            .persist()
        )
        try:
            # batch-INTERNAL near-dup gate first: two near-copies cut
            # into the same micro-batch must not both pass just because
            # neither is stored yet (the larger id of each pair drops)
            internal = (
                ngram_jaccard_pairs(
                    uniq, n=n, threshold=threshold,
                    id_col=id_col, text_col=text_col,
                )
                .select(F.col("b").alias(id_col))
                .distinct()
            )
            gated = uniq.join(F.broadcast(internal), id_col, "left_anti")
            if table_exists(spark, table_path):
                corpus = read_table(spark, table_path)
                dupes = (
                    contamination_pairs(
                        corpus, gated, n=n, threshold=threshold,
                        id_col=id_col, text_col=text_col,
                    )
                    # a doc's own stored version is an UPDATE, not a
                    # duplicate — without this a small edit to X is
                    # rejected as a near-dup of itself
                    .where(F.col("eval_id") != F.col("train_id"))
                    .select(F.col("eval_id").alias(id_col))
                    .distinct()
                )
                fresh = gated.join(F.broadcast(dupes), id_col, "left_anti")
                merged = merge_upsert(corpus, fresh, id_col=id_col)
            else:  # first batch — internal gates only
                merged = gated
            publish_table(spark, table_path, merged)
        finally:
            uniq.unpersist()

    return _start(stream_df, _merge, checkpoint, trigger_once)


def admit_merge_batch(
    spark,
    batch: DataFrame,
    table_path: str,
    shingles_path: str,
    sigs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    sizes_path: str | None = None,
) -> None:
    """One admission-gated merge (the foreachBatch body of
    :func:`stream_admit_to_parquet`, exported so idempotence is directly
    testable): probe the corpus's persisted shingle + MinHash signature
    tables with the batch, upsert what passes, and rewrite exactly those
    docs' index rows.

    RETRY-SAFE BY CONSTRUCTION — foreachBatch redelivers a batch after
    any crash, and the three tables commit in separate (individually
    atomic) versioned swaps, so every step must converge when replayed
    against ANY prefix of the previous attempt's commits:

    - ids already in the docs table are split off as UPDATES: they
      bypass admission (they were admitted when first stored — also
      exactly what a replayed batch's own docs look like after a crash
      past the docs upsert) and proceed to the index rewrite;
    - admission runs only for NEWCOMER ids, and only when BOTH index
      tables exist (a crash between the two index publishes leaves one
      stale; gating on both keeps a half-built first index from being
      probed, and later batches repair it because...);
    - index maintenance is a REWRITE, not an append: per table,
      anti-join out the written ids' old rows, union the freshly
      computed ones. Replays and changed-text updates land exactly one
      copy of each doc's rows — the blind-append alternative doubles
      n_sh on every retry and strands deleted text's shingles forever.

    Batch-internal dedup runs at THREE levels before the corpus probe,
    so the stored invariant ("no stored doc is a near-dup of another at
    ``threshold``") cannot depend on where the stream happened to cut
    batches: (1) one deterministic row per doc_id (smallest md5(text)
    wins) — two texts for one id in a batch must not emit two
    docs-table rows or doubled signature rows; (2) exact-text dedup
    across ids (smallest id per md5); (3) near-dup dedup among the
    NEWCOMERS themselves (same banded MinHash + exact-Jaccard criterion,
    the larger id of each pair drops) — two near-copies arriving in one
    batch previously both passed because neither was in the index yet.

    The batch's shingle + signature tables are computed ONCE over the
    deduped batch, persisted for the batch's lifetime, and threaded into
    every gate (the internal near-dup gate and both corpus probes) —
    each gate's input is a subset of the deduped batch, and both tables
    are per-doc, so an id-keyed semi-join restricts them exactly. The
    previous shape re-tokenized the batch inside each of the three
    sequential gates.

    The per-doc shingle-SIZE table ((doc_id, n_sh) — one int per stored
    doc) is a first-class index artifact beside shingles/signatures,
    maintained by the same rewrite rule and threaded into the exact-
    Jaccard verify: without it, every micro-batch re-aggregated sizes
    from the CORPUS shingle table (a corpus-wide groupBy per batch —
    the shape that dies at 100 TB). ``sizes_path`` defaults to
    ``{shingles_path}_sizes``.
    """
    from pyspark.sql import Window

    from ..operators.dedup import (
        incremental_neardup_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
        shingles,
    )

    if sizes_path is None:
        sizes_path = f"{shingles_path}_sizes"

    # asc_nulls_last: a null-text metadata-update row must NOT beat a
    # real-text row for the same id (NULLS FIRST would sort md5(NULL)
    # to the front)
    one_per_id = Window.partitionBy(id_col).orderBy(
        F.md5(F.col(text_col)).asc_nulls_last()
    )
    # NULL-text rows (metadata updates for DIFFERENT ids) must not
    # collapse together under md5(NULL)'s single NULL partition — each
    # keys by its own id (unique after one_per_id), so exact-text dedup
    # only ever collapses rows with EQUAL non-null text
    one_per_text = Window.partitionBy(
        F.coalesce(F.md5(F.col(text_col)), F.col(id_col).cast("string"))
    ).orderBy(F.col(id_col).asc())
    uniq = (
        batch.withColumn("_rk", F.row_number().over(one_per_id))
        .where(F.col("_rk") == 1)
        .withColumn("_rk", F.row_number().over(one_per_text))
        .where(F.col("_rk") == 1)
        .drop("_rk")
        .persist()
    )
    # one tokenize/shingle/MinHash pass for the whole batch, shared by
    # every gate below (their inputs are subsets of uniq; per-doc tables
    # restrict exactly by id)
    batch_sh = shingles(uniq, n, id_col, text_col).persist()
    batch_sig = minhash_signatures(
        uniq, num_hashes, n, id_col, text_col, shingles_df=batch_sh
    ).persist()
    batch_sizes = (
        batch_sh.groupBy("doc_id").agg(F.count("*").alias("n_sh")).persist()
    )

    def _sub(tbl: DataFrame, members: DataFrame) -> DataFrame:
        ids = members.select(F.col(id_col).alias("doc_id"))
        return tbl.join(F.broadcast(ids), "doc_id", "left_semi")

    to_write = None
    try:
        if table_exists(spark, table_path):
            stored = read_table(spark, table_path)
            stored_ids = stored.select(id_col)
            upd = uniq.join(stored_ids, id_col, "left_semi")
            # split updates by whether the TEXT actually changed: an
            # identical replay (crash redelivery) or a null-text
            # metadata update bypasses admission; a changed-text update
            # must be re-gated or it could turn into a near-copy of
            # another stored doc unchecked
            old_md5 = stored.select(
                F.col(id_col), F.md5(F.col(text_col)).alias("_old_md5")
            )
            # eqNullSafe: a stored doc whose text is NULL (admitted as a
            # no-shingle row) must land in CHANGED when a real text
            # arrives — plain =/!= against the NULL stored md5 evaluates
            # to NULL, dropping the row from BOTH splits (the update
            # would vanish silently on every attempt)
            upd_tag = upd.join(old_md5, id_col)
            changed = upd_tag.where(
                F.col(text_col).isNotNull()
                & ~F.md5(F.col(text_col)).eqNullSafe(F.col("_old_md5"))
            ).drop("_old_md5")
            replay = upd_tag.where(
                F.col(text_col).isNull()
                | F.md5(F.col(text_col)).eqNullSafe(F.col("_old_md5"))
            ).drop("_old_md5")
            newcomers = uniq.join(stored_ids, id_col, "left_anti")
        else:
            changed = uniq.limit(0)
            replay = uniq.limit(0)
            newcomers = uniq
        # the batch-internal near-dup gate runs over newcomers AND
        # changed-text updates (their NEW texts are in the shared batch
        # tables): a changed doc probes the corpus index against its
        # peers' OLD rows only, so a changed-text/newcomer near-pair cut
        # into one batch would otherwise both enter unchecked. The
        # larger id of each pair drops — for a changed doc that means
        # its update is rejected and the stored text stands, which
        # preserves the invariant either way.
        gate_members = newcomers.unionByName(changed)
        internal = minhash_lsh_pairs(
            gate_members, num_hashes=num_hashes, bands=bands, n=n,
            threshold=threshold, id_col=id_col, text_col=text_col,
            shingles_df=_sub(batch_sh, gate_members),
            signatures_df=_sub(batch_sig, gate_members),
        ).select(F.col("b").alias(id_col)).distinct()
        newcomers = newcomers.join(F.broadcast(internal), id_col, "left_anti")
        changed = changed.join(F.broadcast(internal), id_col, "left_anti")
        index_ready = table_exists(spark, shingles_path) and table_exists(
            spark, sigs_path
        )
        if index_ready:
            corpus_sh = read_table(spark, shingles_path)
            corpus_sig = read_table(spark, sigs_path)
            # the persisted size table replaces the per-batch corpus-wide
            # groupBy; a table created before the sizes artifact existed
            # falls back to the aggregate (and starts maintaining one)
            corpus_sizes = (
                read_table(spark, sizes_path)
                if table_exists(spark, sizes_path)
                else None
            )

            def _rejected(cand: DataFrame) -> DataFrame:
                pairs = incremental_neardup_pairs(
                    cand,
                    num_hashes=num_hashes,
                    bands=bands,
                    n=n,
                    threshold=threshold,
                    id_col=id_col,
                    text_col=text_col,
                    corpus_shingles_df=corpus_sh,
                    corpus_signatures_df=corpus_sig,
                    batch_shingles_df=_sub(batch_sh, cand),
                    batch_signatures_df=_sub(batch_sig, cand),
                    batch_sizes_df=batch_sizes,
                    corpus_sizes_df=corpus_sizes,
                )
                # a doc's own indexed rows are not a duplicate of its
                # changed text — exclude the self pair
                return (
                    pairs.where(F.col("batch_id") != F.col("corpus_id"))
                    .select(F.col("batch_id").alias(id_col))
                    .distinct()
                )

            admitted = newcomers.join(
                F.broadcast(_rejected(newcomers)), id_col, "left_anti"
            )
            changed_ok = changed.join(
                F.broadcast(_rejected(changed)), id_col, "left_anti"
            )
        else:  # no (complete) index yet — everything enters
            admitted = newcomers
            changed_ok = changed
        to_write = replay.unionByName(changed_ok).unionByName(admitted).persist()
        if to_write.isEmpty():
            return
        upsert_table(spark, table_path, to_write, id_col=id_col)
        # index rows come from the MERGED table, not the batch: a
        # null-text metadata update keeps its stored text in the corpus
        # and must keep its index rows too (batch-text indexing would
        # vanish it from the near-dup index)
        ids = to_write.select(F.col(id_col).alias("doc_id"))
        tbl = read_table(spark, table_path)
        merged_rows = tbl.join(
            F.broadcast(ids), tbl[id_col] == ids["doc_id"], "left_semi"
        )
        fresh_sh = shingles(merged_rows, n, id_col, text_col)
        fresh_sig = minhash_signatures(
            merged_rows, num_hashes, n, id_col, text_col, shingles_df=fresh_sh
        )
        fresh_sizes = fresh_sh.groupBy("doc_id").agg(
            F.count("*").alias("n_sh")
        )
        for path, fresh in (
            (shingles_path, fresh_sh),
            (sigs_path, fresh_sig),
            (sizes_path, fresh_sizes),
        ):
            if table_exists(spark, path):
                kept = read_table(spark, path).join(
                    F.broadcast(ids), "doc_id", "left_anti"
                )
                publish_table(spark, path, kept.unionByName(fresh))
            else:
                publish_table(spark, path, fresh)
    finally:
        if to_write is not None:
            to_write.unpersist()
        batch_sizes.unpersist()
        batch_sig.unpersist()
        batch_sh.unpersist()
        uniq.unpersist()


def stream_admit_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    shingles_path: str,
    sigs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """Admission-gated ingestion against a MAINTAINED near-dup index —
    the streaming composition of :func:`dedup.incremental_admission`:
    each micro-batch probes the corpus's persisted shingle + MinHash
    signature tables (never the corpus text), appends only admitted
    docs, and rewrites exactly those docs' index rows. Unlike
    :func:`stream_dedup_to_parquet` (shared-shingle containment join
    against the stored text), the corpus side here is the INDEX — the
    per-batch cost is the banded probe, independent of corpus text
    width, which is the shape that holds when the corpus is 100 TB and
    the index tables are its distilled KBs-per-doc summary.

    Batch semantics and the retry-convergence argument live on
    :func:`admit_merge_batch` (the exported foreachBatch body).
    """
    spark = stream_df.sparkSession

    def _admit(batch: DataFrame, batch_id: int) -> None:
        admit_merge_batch(
            spark, batch, table_path, shingles_path, sigs_path,
            id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
        )

    return _start(stream_df, _admit, checkpoint, trigger_once)


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window per-type counts/sums with late-data watermark.
    The batch-mode twin (same expressions, no watermark) is the
    ``events_hourly`` query in __spark_entry__ — both share semantics."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def anomaly_alert_stream(
    stream_df: DataFrame,
    stats: DataFrame,
    n_sigma: float = 3.0,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Streaming z-score anomaly gate: events whose value deviates more
    than ``n_sigma`` standard deviations from the historical per-type
    mean pass through as an alert stream. The classic lambda shape —
    stats come from a BATCH table (e.g. the event_anomalies query's
    per-type aggregates, refreshed on the batch cadence) and join the
    live stream stream-static, so the hot path is a broadcast lookup +
    a narrow filter with NO streaming state at all.

    ``stats``: batch DataFrame (event_type, mu, sigma). Returns the
    filtered streaming DataFrame with mu/sigma/z attached (z is NULL
    for the two non-finite cases below); attach a sink (foreachBatch,
    kafka, memory) downstream.

    Edge semantics — ALL err toward ALERTING, never silent drops:
    - event types with no stats row (never seen in the batch history)
      are alerts by definition;
    - sigma = 0 types (constant history) alert on ANY deviation from
      mu — the z-score is infinite, not computable;
    - a NULL value or a corrupt (negative) sigma makes z NULL: such
      rows alert too — a NULL disjunction would otherwise filter them
      out silently, the exact failure this stream must not have.
    """
    joined = stream_df.join(F.broadcast(stats), type_col, "left")
    z = F.when(
        F.col("sigma") > 0,
        F.round((F.col(value_col) - F.col("mu")) / F.col("sigma"), 6),
    )
    # the z term must be null-safe INSIDE the disjunction: z is NULL for
    # every sigma==0 row, and a NULL disjunct poisons the whole OR into
    # NULL, which the alert-on-unknown coalesce then turns into TRUE —
    # i.e. a constant-history type would alert on value == mu (no
    # deviation at all), an alert storm that makes the explicit
    # (sigma==0 & value!=mu) term dead code. The outer coalesce stays as
    # the backstop for genuinely corrupt stats rows (e.g. NULL mu).
    alert = F.coalesce(
        F.col("sigma").isNull()
        | ((F.col("sigma") == 0) & (F.col(value_col) != F.col("mu")))
        | F.coalesce(F.abs(z) > n_sigma, F.lit(False)),
        F.lit(True),
    ) | F.col(value_col).isNull() | (F.col("sigma") < 0)
    return joined.withColumn("z", z).where(alert)


def stream_hll_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    value_col: str,
    p: int = 12,
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """Maintain a standing HyperLogLog register table over a stream:
    each micro-batch sketches ITSELF (one tiny map-side-combined agg
    over the batch) and merges into the published table by register
    max — the mergeability that makes the sketch the right streaming
    cardinality state: the standing table is <= 2^p rows forever, the
    merge cost is sketch-sized, and the result equals sketching the
    whole history in one batch (pinned by test). Published via the
    same versioned swap as the corpus tables, so readers see an atomic
    register set and a crashed batch retries cleanly from the
    checkpoint.
    """
    from pyspark.sql import functions as F

    from ..operators.sketches import hll_registers
    from ..sources.tables import publish_table, read_table, table_versions

    spark = stream_df.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        sk = hll_registers(batch, value_col, p=p)
        # table_exists, not table_versions: a legacy FLAT standing table
        # must be merged, not silently replaced (the first versioned
        # publish deletes root data files as migration)
        if table_exists(spark, table_path):
            sk = (
                read_table(spark, table_path)
                .union(sk)
                .groupBy("register")
                .agg(F.max("max_rho").alias("max_rho"))
            )
        publish_table(spark, table_path, sk)

    return _start(stream_df, _merge, checkpoint, trigger_once)


def stream_bloom_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    key_col: str,
    m_bits: int = 4096,
    k: int = 3,
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """Maintain a standing Bloom bit table over a stream: each
    micro-batch hashes ITSELF (k bit positions per key, one distinct)
    and merges into the published table by union+distinct — Bloom
    filters merge by bitwise OR, which on the bit-position
    representation IS set union. The standing table stays <= m_bits
    rows forever and equals building the filter over the whole history
    in one batch (pinned by test).

    This is the streaming half of the decontamination gate: the
    benchmark/opt-out feed keeps the filter current, and batch or
    streaming consumers apply it via ``sketches.bloom_gate`` (a narrow
    column) without ever seeing the raw key set. Published via the
    versioned swap, so readers get an atomic bit set and a crashed
    batch retries cleanly from the checkpoint.
    """
    from pyspark.sql import functions as F

    from ..operators.sketches import bloom_bits
    from ..sources.tables import publish_table, read_table, table_versions

    spark = stream_df.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        bits = bloom_bits(batch, F.col(key_col), m_bits=m_bits, k=k)
        if table_exists(spark, table_path):
            bits = read_table(spark, table_path).union(bits).distinct()
        publish_table(spark, table_path, bits)

    return _start(stream_df, _merge, checkpoint, trigger_once)


def cms_merge_batch(
    spark,
    batch: DataFrame,
    table_path: str,
    batch_id: int,
    value_col: str,
    depth: int = 4,
    width: int = 256,
    ckpt_tag: str | None = None,
) -> None:
    """One CMS merge (the foreachBatch body of
    :func:`stream_cms_to_parquet`, exported so crash-replay idempotence
    is directly testable — the admit_merge_batch pattern). Cell-wise SUM
    is not idempotent, so a batch redelivered after a crash between the
    publish and the streaming checkpoint commit must be skipped: the
    standing table carries ``last_batch`` in the same atomic publish,
    and the sidecar records WHICH checkpoint issued it (``ckpt_tag``).
    The guard fires only for ``batch_id <= last_batch`` from the SAME
    checkpoint lineage — batch ids are per-checkpoint and restart at 0
    on a fresh one, so a lineage-blind guard would make a fresh
    checkpoint's entire reprocess a silent no-op against a table at
    last_batch=N (batches 0..N swallowed; data loss, the failure this
    fix removes). Under a DIFFERENT checkpoint the merge proceeds: a
    reprocess over an existing table double-counts by construction (the
    standard Spark contract — changing the checkpoint means owning the
    reprocess; reset the table with it), which is loud, not silent."""
    from pyspark.sql import functions as F

    from ..operators.sketches import cms_table
    from ..sources.tables import publish_table, read_table, read_table_stats

    sk = cms_table(batch, value_col, depth=depth, width=width)
    if table_exists(spark, table_path):
        prev = read_table(spark, table_path)
        same_ckpt = ckpt_tag is not None and (
            (read_table_stats(spark, table_path) or {}).get("cms_checkpoint")
            == ckpt_tag
        )
        if same_ckpt and "last_batch" in prev.columns:
            last = prev.select(F.max("last_batch").alias("m")).first()["m"]
            if last is not None and batch_id <= last:
                return  # replay of an already-merged batch
        prev_cells = prev.select("row", "cell", "cnt")
        sk = (
            prev_cells.union(sk)
            .groupBy("row", "cell")
            .agg(F.sum("cnt").alias("cnt"))
        )
    publish_table(
        spark, table_path, sk.withColumn("last_batch", F.lit(batch_id)),
        extra_stats={"cms_checkpoint": ckpt_tag},
    )


def stream_cms_to_parquet(
    stream_df: DataFrame,
    table_path: str,
    value_col: str,
    depth: int = 4,
    width: int = 256,
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """Maintain a standing Count-Min sketch over a stream: each
    micro-batch sketches ITSELF (one map-side-combined agg over the
    batch) and merges into the published table by cell-wise SUM — the
    CMS merge law. The standing table stays <= depth * width rows
    forever, the merge cost is sketch-sized, and the result equals
    sketching the whole history in one batch (pinned by test), so
    point-frequency / heavy-hitter estimates stay queryable mid-stream
    via ``sketches.cms_estimate`` without re-reading history.

    Completes the mergeable-sketch maintenance trio with
    :func:`stream_hll_to_parquet` (register max) and
    :func:`stream_bloom_to_parquet` (bit union). Published via the
    versioned swap: readers get an atomic cell table and a crashed
    batch retries cleanly from the checkpoint.

    Unlike the Bloom (bit union) and HLL (register max) merges, a
    cell-wise SUM is NOT idempotent — if foreachBatch replays a batch
    whose merge already published (crash between publish and the
    streaming checkpoint), a naive re-merge double-counts it. The
    standing table therefore carries a ``last_batch`` bookkeeping
    column in the SAME atomic publish: a replayed ``batch_id <=
    last_batch`` FROM THE SAME CHECKPOINT LINEAGE is skipped (the
    sidecar records which checkpoint issued it — see
    :func:`cms_merge_batch` for why the lineage check matters), so
    exactly-once counts survive any crash point. Estimate readers
    ignore the extra column (``cms_estimate`` joins on (row, cell) and
    reads cnt only).
    """
    import hashlib

    spark = stream_df.sparkSession
    ckpt_tag = (
        hashlib.md5(checkpoint.encode()).hexdigest() if checkpoint else None
    )

    def _merge(batch: DataFrame, batch_id: int) -> None:
        cms_merge_batch(
            spark, batch, table_path, batch_id, value_col,
            depth=depth, width=width, ckpt_tag=ckpt_tag,
        )

    return _start(stream_df, _merge, checkpoint, trigger_once)
