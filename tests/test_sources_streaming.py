"""CRUD surface + streaming ingestion tests."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.sources import tables
from grape_vector_db_spark.sources.tables import read_table
from grape_vector_db_spark.streaming.ingest import (
    stream_upsert_to_parquet,
    windowed_event_counts,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="gvdb_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_merge_upsert_preserves_unset_fields(spark):
    existing = spark.createDataFrame(
        [(1, "old-title", "en"), (2, "keep", "de")], "id int, title string, lang string"
    )
    updates = spark.createDataFrame(
        [(1, "new-title", None), (3, "fresh", "fr")], "id int, title string, lang string"
    )
    out = {r["id"]: r for r in tables.merge_upsert(existing, updates).collect()}
    assert out[1]["title"] == "new-title"
    assert out[1]["lang"] == "en"  # unset field preserved (reference S7)
    assert out[2]["title"] == "keep"
    assert out[3]["lang"] == "fr"


def test_upsert_table_parquet_mode_versioned_swap(spark, tmpdir):
    """The fmt='parquet' default of the table-level MERGE must behave
    exactly like the old merge_upsert+publish_table path: versioned swap,
    update-wins-per-id, null update fields preserved, first call seeds."""
    p = f"{tmpdir}/tbl"
    first = spark.createDataFrame(
        [(1, "old", "en"), (2, "keep", "de")], "id int, title string, lang string"
    )
    tables.upsert_table(spark, p, first)
    upd = spark.createDataFrame(
        [(1, "new", None), (3, "fresh", "fr")], "id int, title string, lang string"
    )
    tables.upsert_table(spark, p, upd)
    assert tables.table_versions(spark, p) == [1, 2]
    out = {r["id"]: r for r in tables.read_table(spark, p).collect()}
    assert out[1]["title"] == "new" and out[1]["lang"] == "en"
    assert out[2]["title"] == "keep" and out[3]["lang"] == "fr"
    tables.delete_table_where(spark, p, "lang = 'de'")
    assert sorted(
        r["id"] for r in tables.read_table(spark, p).collect()
    ) == [1, 3]


def test_table_format_delta_mode_gated(spark, tmpdir):
    """fmt='delta' either works end-to-end (delta-spark present: MERGE
    preserves unset fields, DELETE prunes) or raises a clear
    NotImplementedError (this container) — never a silent fallback."""
    import pytest

    p = f"{tmpdir}/dtbl"
    df = spark.createDataFrame([(1, "a")], "id int, title string")
    if not tables.delta_available():
        with pytest.raises(NotImplementedError, match="delta-spark"):
            tables.upsert_table(spark, p, df, fmt="delta")
        with pytest.raises(NotImplementedError, match="delta-spark"):
            tables.delete_table_where(spark, p, "id = 1", fmt="delta")
        return
    tables.upsert_table(spark, p, df, fmt="delta")  # pragma: no cover
    upd = spark.createDataFrame([(1, None), (2, "b")], "id int, title string")
    tables.upsert_table(spark, p, upd, fmt="delta")
    out = {
        r["id"]: r
        for r in spark.read.format("delta").load(p).collect()
    }
    assert out[1]["title"] == "a" and out[2]["title"] == "b"
    tables.delete_table_where(spark, p, "id = 2", fmt="delta")
    assert spark.read.format("delta").load(p).count() == 1


def test_upsert_table_rejects_unknown_format(spark, tmpdir):
    import pytest

    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="fmt"):
        tables.upsert_table(spark, f"{tmpdir}/x", df, fmt="iceberg")


def test_format_mismatch_refused_not_forked(spark, tmpdir):
    """fmt='parquet' on a Delta root (detected by _delta_log) must raise
    rather than raw-read part files outside the log; fmt='delta' on an
    existing parquet table must raise rather than seed a log holding
    only the batch. (The delta->parquet direction is checkable without
    delta-spark — only a directory probe is involved.)"""
    import os

    import pytest

    p = f"{tmpdir}/t"
    df = spark.createDataFrame([(1, "a")], "id int, title string")
    # fake delta root: parquet data beside a _delta_log dir
    df.write.parquet(p)
    os.makedirs(f"{p}/_delta_log", exist_ok=True)
    with pytest.raises(ValueError, match="_delta_log"):
        tables.upsert_table(spark, p, df, fmt="parquet")
    with pytest.raises(ValueError, match="_delta_log"):
        tables.delete_table_where(spark, p, "id = 1", fmt="parquet")
    if tables.delta_available():  # pragma: no cover - needs delta-spark
        q = f"{tmpdir}/pq"
        tables.upsert_table(spark, q, df)  # plain parquet table
        with pytest.raises(ValueError, match="non-Delta"):
            tables.upsert_table(spark, q, df, fmt="delta")


def test_delete_where(spark, docs):
    remaining = tables.delete_where(docs, "lang = 'en'")
    assert remaining.where("lang = 'en'").count() == 0
    assert remaining.count() == docs.count() - docs.where("lang = 'en'").count()


def test_uuid_fill(spark):
    df = spark.createDataFrame([("",), (None,), ("keep-id",)], "id string")
    out = tables.with_uuid_ids(df).collect()
    ids = [r["id"] for r in out]
    assert "keep-id" in ids
    filled = [i for i in ids if i != "keep-id"]
    assert all(i and len(i) == 36 for i in filled)  # uuid-v4 format


def test_backup_restore_roundtrip(spark, docs, tmpdir):
    tables.backup(docs, f"{tmpdir}/snap", id_col="doc_id")
    back = tables.restore(spark, f"{tmpdir}/snap")
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)


def test_stream_upsert(spark, tmpdir):
    src = f"{tmpdir}/incoming"
    table = f"{tmpdir}/documents_table"
    spark.createDataFrame(
        [(1, "v1"), (2, "v1")], "doc_id int, text string"
    ).write.parquet(src)
    q = stream_upsert_to_parquet(
        spark.readStream.schema("doc_id int, text string").parquet(src),
        table,
        id_col="doc_id",
        checkpoint=f"{tmpdir}/ckpt",
    )
    q.awaitTermination(60)
    assert read_table(spark, table).count() == 2

    spark.createDataFrame([(2, "v2"), (3, "v1")], "doc_id int, text string").write.mode(
        "append"
    ).parquet(src)
    q = stream_upsert_to_parquet(
        spark.readStream.schema("doc_id int, text string").parquet(src),
        table,
        id_col="doc_id",
        checkpoint=f"{tmpdir}/ckpt",
    )
    q.awaitTermination(60)
    out = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
    assert out == {1: "v1", 2: "v2", 3: "v1"}


def test_stateful_dedup_stream(spark, tmpdir):
    """Duplicates are dropped across micro-batches via keyed state."""
    from grape_vector_db_spark.streaming.stateful import dedup_stream

    src = f"{tmpdir}/in"
    out = f"{tmpdir}/out"
    ck = f"{tmpdir}/ck"
    spark.createDataFrame(
        [(1, "alpha content"), (2, "beta content"), (3, "alpha content")],
        "doc_id long, text string",
    ).write.parquet(src)

    def run_once():
        q = (
            dedup_stream(spark.readStream.schema("doc_id long, text string").parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    rows = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()}
    # within-batch dup (doc 3) suppressed; first-seen = lowest id
    assert rows == {(1, "alpha content"), (2, "beta content")}

    # second batch: one old content (suppressed via state), one new
    spark.createDataFrame(
        [(4, "alpha content"), (5, "gamma content")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    run_once()
    rows = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()}
    assert (5, "gamma content") in rows
    assert (4, "alpha content") not in rows
    assert len(rows) == 3


def test_windowed_event_counts_batch_semantics(spark):
    """The streaming aggregation expressions, run in batch mode, match a
    plain groupBy — shared semantics between the two paths."""
    ev = spark.createDataFrame(
        [("2024-01-01 10:05:00", "click", 1.0), ("2024-01-01 10:55:00", "click", 2.0),
         ("2024-01-01 11:05:00", "view", 3.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(ev).collect()
    }
    assert out[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 11:00:00", "view")] == (1, 3.0)


def test_stateful_sessionize_stream(spark, tmpdir):
    """Sessions close across micro-batches when the event-time gap exceeds
    the threshold; the open tail session persists in state."""
    from grape_vector_db_spark.streaming.stateful import sessionize_stream

    src = f"{tmpdir}/sess_in"
    out = f"{tmpdir}/sess_out"
    ck = f"{tmpdir}/sess_ck"
    M = 1_000_000  # seconds -> micros

    def run_once():
        q = (
            sessionize_stream(
                spark.readStream.schema("user_id long, ts_us long").parquet(src),
                gap_seconds=60,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: user 1 has two bursts 300s apart -> first session closes
    spark.createDataFrame(
        [(1, 0 * M), (1, 30 * M), (1, 330 * M), (2, 0 * M)],
        "user_id long, ts_us long",
    ).write.parquet(src)
    run_once()
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {(1, 0, 30 * M, 2)}  # open sessions not emitted

    # batch 2: a late burst for user 2 closes their first session; user 1's
    # open session absorbs a near event (no new closure)
    spark.createDataFrame(
        [(2, 500 * M), (1, 340 * M)], "user_id long, ts_us long"
    ).write.mode("append").parquet(src)
    run_once()
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {(1, 0, 30 * M, 2), (2, 0, 0, 1)}


def test_stream_admit_to_parquet(spark, tmpdir):
    """Admission-gated streaming ingest: batch 1 seeds the corpus and its
    shingle/signature index; batch 2's near-copy of a stored doc is
    rejected by probing the INDEX (not the corpus text) while its novel
    doc enters, and the index tables grow by exactly the admitted doc."""
    from grape_vector_db_spark.streaming.ingest import stream_admit_to_parquet

    src = f"{tmpdir}/incoming"
    table, sh, sig = f"{tmpdir}/docs", f"{tmpdir}/sh_idx", f"{tmpdir}/sig_idx"
    base = "the quick brown fox jumps over the lazy dog again and again today"

    def run_once(ck):
        q = stream_admit_to_parquet(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            table, sh, sig,
            threshold=0.2,
            checkpoint=ck,
        )
        q.awaitTermination(60)

    spark.createDataFrame(
        [(1, base), (2, "totally different corpus text about spark tables")],
        "doc_id long, text string",
    ).write.parquet(src)
    run_once(f"{tmpdir}/ck1")
    assert {r["doc_id"] for r in read_table(spark, table).collect()} == {1, 2}
    idx_docs = {r["doc_id"] for r in read_table(spark, sig).collect()}
    assert idx_docs == {1, 2}

    spark.createDataFrame(
        [(11, base + " extra"), (12, "novel fresh content nothing shares this")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    run_once(f"{tmpdir}/ck1")
    stored = {r["doc_id"] for r in read_table(spark, table).collect()}
    assert stored == {1, 2, 12}  # 11 rejected as a near-dup of 1
    idx_docs = {r["doc_id"] for r in read_table(spark, sig).collect()}
    assert idx_docs == {1, 2, 12}  # index grew by the admitted doc only


def test_admit_merge_batch_retry_and_update_idempotent(spark, tmpdir):
    """The foreachBatch body replayed verbatim (crash-retry) must leave
    every table unchanged — index rows are REWRITTEN per written doc,
    never appended — and re-ingesting an existing id with new text must
    replace both its stored row and its index rows (no stale shingles
    of the deleted text, no doubled n_sh)."""
    from grape_vector_db_spark.streaming.ingest import admit_merge_batch

    table, sh, sig = f"{tmpdir}/d", f"{tmpdir}/sh", f"{tmpdir}/sg"
    b1 = spark.createDataFrame(
        [(1, "first stored document body with several words here"),
         (2, "second stored document entirely different content")],
        "doc_id long, text string",
    )
    admit_merge_batch(spark, b1, table, sh, sig, threshold=0.2)

    def snapshot():
        return (
            sorted(read_table(spark, table).collect()),
            sorted(read_table(spark, sh).collect()),
            sorted(read_table(spark, sig).collect()),
        )

    before = snapshot()
    admit_merge_batch(spark, b1, table, sh, sig, threshold=0.2)  # replay
    assert snapshot() == before  # byte-identical: no doubled index rows

    new_text = "completely replaced text sharing nothing with before"
    upd = spark.createDataFrame([(1, new_text)], "doc_id long, text string")
    admit_merge_batch(spark, upd, table, sh, sig, threshold=0.2)
    docs = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
    assert docs[1] == new_text
    # index rows for doc 1 describe ONLY the new text
    sh1 = {r["shingle"] for r in read_table(spark, sh).where("doc_id = 1").collect()}
    assert sh1 and all("stored" not in s for s in sh1)
    assert read_table(spark, sig).where("doc_id = 1").count() == 1


def test_admit_merge_batch_internal_dedup_levels(spark, tmpdir):
    """The stored invariant must not depend on batch boundaries: two
    near-copies arriving in ONE batch keep only the smaller id; a batch
    carrying two texts for one doc_id lands exactly one docs-table row
    and one signature row."""
    from grape_vector_db_spark.streaming.ingest import admit_merge_batch

    table, sh, sig = f"{tmpdir}/d", f"{tmpdir}/sh", f"{tmpdir}/sg"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    b = spark.createDataFrame(
        [
            (3, base),                    # near-copies in the SAME batch:
            (4, base + " extra"),         # only min id 3 may survive
            (7, "version one of the doc seven body text"),
            (7, "version two of the doc seven body text"),  # same id twice
        ],
        "doc_id long, text string",
    )
    admit_merge_batch(spark, b, table, sh, sig, threshold=0.2)
    stored = sorted(r["doc_id"] for r in read_table(spark, table).collect())
    assert stored == [3, 7]
    assert read_table(spark, table).where("doc_id = 7").count() == 1
    assert read_table(spark, sig).where("doc_id = 7").count() == 1
    assert read_table(spark, sig).where("doc_id = 4").count() == 0


def test_stream_curate_to_parquet(spark, tmpdir):
    """Streaming curation ingest: PII scrubbed and unkeepable docs dropped
    before the table merge — the stored corpus is born clean."""
    from grape_vector_db_spark.streaming.ingest import stream_curate_to_parquet

    src = f"{tmpdir}/incoming"
    table = f"{tmpdir}/clean_docs"
    spark.createDataFrame(
        [
            (1, "mail me at a.user@test.org for the full report today.\n"
                "this second line is also perfectly fine."),
            (2, "short"),  # no keepable line -> dropped entirely
        ],
        "doc_id int, text string",
    ).write.parquet(src)
    q = stream_curate_to_parquet(
        spark.readStream.schema("doc_id int, text string").parquet(src),
        table,
        checkpoint=f"{tmpdir}/ckpt",
    )
    q.awaitTermination(60)
    out = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
    assert set(out) == {1}
    assert "[EMAIL]" in out[1] and "a.user@test.org" not in out[1]
    assert "second line" in out[1]

    # late batch: doc 2 arrives cleaned up -> upserts; doc 1 untouched
    spark.createDataFrame(
        [(2, "now this document has a real sentence in it.")],
        "doc_id int, text string",
    ).write.mode("append").parquet(src)
    q = stream_curate_to_parquet(
        spark.readStream.schema("doc_id int, text string").parquet(src),
        table,
        checkpoint=f"{tmpdir}/ckpt",
    )
    q.awaitTermination(60)
    out = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
    assert set(out) == {1, 2}
    assert "[EMAIL]" in out[1]


def test_stream_dedup_to_parquet(spark, tmpdir):
    from grape_vector_db_spark.streaming.ingest import stream_dedup_to_parquet

    src, tbl, ckpt = f"{tmpdir}/src", f"{tmpdir}/tbl", f"{tmpdir}/ck"
    # batch 1: two exact dups (1, 2) and a distinct doc (3)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "completely different text here")],
        "doc_id int, text string",
    ).write.parquet(src)
    q = stream_dedup_to_parquet(
        spark.readStream.schema("doc_id int, text string").parquet(src),
        tbl, checkpoint=ckpt,
    )
    q.awaitTermination(60)
    got = {r["doc_id"] for r in read_table(spark, tbl).collect()}
    assert got == {1, 3}  # exact dup 2 dropped inside the batch

    # batch 2: near-copy of doc 1 (41) + genuinely new doc (42)
    spark.createDataFrame(
        [(41, "alpha beta gamma delta epsilon"),
         (42, "nothing shares shingles with this")],
        "doc_id int, text string",
    ).write.mode("append").parquet(src)
    q = stream_dedup_to_parquet(
        spark.readStream.schema("doc_id int, text string").parquet(src),
        tbl, checkpoint=ckpt,
    )
    q.awaitTermination(60)
    got = {r["doc_id"] for r in read_table(spark, tbl).collect()}
    assert got == {1, 3, 42}  # 41 rejected: shingle overlap vs stored doc 1


def test_anomaly_alert_stream(spark, tmpdir):
    """Stream-static z-score gate: only the outlier event crosses it."""
    from grape_vector_db_spark.streaming.ingest import anomaly_alert_stream

    src = f"{tmpdir}/anom_in"
    out = f"{tmpdir}/anom_out"
    ck = f"{tmpdir}/anom_ck"
    spark.createDataFrame(
        [(1, "click", 10.0), (2, "click", 11.0), (3, "click", 99.0),
         (4, "view", 5.0),
         (5, "heartbeat", 7.0),   # constant history (sigma=0), deviates
         (6, "brandnew", 1.0)],   # type with no stats row at all
        "event_id long, event_type string, value double",
    ).write.parquet(src)
    stats = spark.createDataFrame(
        [("click", 10.0, 1.0), ("view", 5.0, 1.0), ("heartbeat", 5.0, 0.0)],
        "event_type string, mu double, sigma double",
    )
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(src)
    q = (
        anomaly_alert_stream(stream, stats, n_sigma=3.0)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["z"] for r in spark.read.parquet(out).collect()}
    # z-score alert, sigma=0 deviation alert, unknown-type alert —
    # and nothing else
    assert rows == {3: 89.0, 5: None, 6: None}


def test_stream_hll_equals_batch_sketch(spark, tmpdir):
    """Two micro-batches maintaining the standing register table must
    end at EXACTLY the register set of one batch sketch over all data —
    the HLL mergeability contract, streaming edition."""
    from grape_vector_db_spark.operators import sketches
    from grape_vector_db_spark.sources.tables import read_table
    from grape_vector_db_spark.streaming.ingest import stream_hll_to_parquet

    src = f"{tmpdir}/src"
    tbl = f"{tmpdir}/hll"
    ck = f"{tmpdir}/ck"
    spark.createDataFrame(
        [(f"item-{i}",) for i in range(300)], "v string"
    ).write.parquet(src)

    def run_once():
        q = stream_hll_to_parquet(
            spark.readStream.schema("v string").parquet(src),
            tbl, "v", p=8, checkpoint=ck,
        )
        q.awaitTermination(120)

    run_once()
    spark.createDataFrame(
        [(f"item-{i}",) for i in range(200, 500)], "v string"  # overlap 200-299
    ).write.mode("append").parquet(src)
    run_once()

    standing = sorted(map(tuple, read_table(spark, tbl).collect()))
    full = spark.createDataFrame([(f"item-{i}",) for i in range(500)], "v string")
    direct = sorted(
        map(tuple, sketches.hll_registers(full, "v", p=8).collect())
    )
    assert standing == direct
    est = sketches.hll_estimate(read_table(spark, tbl), p=8).collect()[0]
    assert abs(est.estimate / 500 - 1) < 0.2
