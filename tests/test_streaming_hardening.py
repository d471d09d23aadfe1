"""Streaming-ingest hardening pins (self-review of streaming/ingest.py):

1. admit_merge_batch null-text handling: metadata updates for DIFFERENT
   ids must not collapse under md5(NULL)'s single partition, and a real
   text arriving for a stored null-text doc must not vanish from both
   the changed/replay splits (null-safe md5 compare).
2. admit_merge_batch's batch-internal near-dup gate covers changed-text
   updates, not just newcomers — a changed/newcomer near-pair cut into
   one batch must not both enter.
3. Stream operators collapse duplicate ids within a micro-batch with
   the docs-merge's own rule before deriving rows (curate rejoin, dedup
   first batch).
4. anomaly_alert_stream: a sigma==0 type's IN-BAND event (value == mu)
   must NOT alert (the NULL z disjunct used to poison the OR into an
   alert for every constant-history event).
"""

from __future__ import annotations

import pytest

from grape_vector_db_spark.sources.tables import read_table
from grape_vector_db_spark.streaming.ingest import admit_merge_batch

SCHEMA = "doc_id long, text string, lang string"


class TestAdmitNullTextHandling:
    def test_null_text_metadata_updates_apply_to_every_id(
        self, spark, tmpdir
    ):
        table, sh, sig = f"{tmpdir}/d", f"{tmpdir}/sh", f"{tmpdir}/sg"
        b1 = spark.createDataFrame(
            [(1, "first stored document body with words", "xx"),
             (2, "second stored doc entirely different text", "xx")],
            SCHEMA,
        )
        admit_merge_batch(spark, b1, table, sh, sig, threshold=0.2)
        # ONE batch carrying null-text metadata updates for BOTH ids —
        # md5(NULL) grouping used to keep only the smallest id's row
        b2 = spark.createDataFrame(
            [(1, None, "en"), (2, None, "fr")], SCHEMA
        )
        admit_merge_batch(spark, b2, table, sh, sig, threshold=0.2)
        out = {r["doc_id"]: r for r in read_table(spark, table).collect()}
        assert out[1]["lang"] == "en"
        assert out[2]["lang"] == "fr"  # was silently dropped pre-fix
        # stored texts preserved by the null-field merge rule
        assert out[1]["text"].startswith("first")
        assert out[2]["text"].startswith("second")

    def test_text_update_to_stored_null_text_doc_applies(
        self, spark, tmpdir
    ):
        table, sh, sig = f"{tmpdir}/d2", f"{tmpdir}/sh2", f"{tmpdir}/sg2"
        b1 = spark.createDataFrame([(9, None, "xx")], SCHEMA)
        admit_merge_batch(spark, b1, table, sh, sig, threshold=0.2)
        assert read_table(spark, table).first()["text"] is None
        # a real text arrives: md5(T) vs the stored NULL md5 must land
        # the row in CHANGED (null-safe compare) — it used to fall out
        # of both splits and the update was lost on every attempt
        b2 = spark.createDataFrame(
            [(9, "now this doc has a real body of text", "xx")], SCHEMA
        )
        admit_merge_batch(spark, b2, table, sh, sig, threshold=0.2)
        row = read_table(spark, table).where("doc_id = 9").first()
        assert row["text"] is not None and "real body" in row["text"]
        # and its index rows exist now
        assert read_table(spark, sh).where("doc_id = 9").count() > 0


class TestAdmitChangedTextInternalGate:
    def test_changed_newcomer_near_pair_one_enters(self, spark, tmpdir):
        table, sh, sig = f"{tmpdir}/d3", f"{tmpdir}/sh3", f"{tmpdir}/sg3"
        b1 = spark.createDataFrame(
            [(5, "an entirely unrelated stored document body", "xx")],
            SCHEMA,
        )
        admit_merge_batch(spark, b1, table, sh, sig, threshold=0.2)
        t = "the quick brown fox jumps over the lazy dog once more today"
        # doc 5's text CHANGES to t while near-copy newcomer 6 arrives
        # in the SAME batch: the corpus index still holds 5's OLD
        # shingles, so only the batch-internal gate can see this pair —
        # the larger id (6) must drop
        b2 = spark.createDataFrame(
            [(5, t, "xx"), (6, t + " extra", "xx")], SCHEMA
        )
        admit_merge_batch(spark, b2, table, sh, sig, threshold=0.2)
        out = {r["doc_id"]: r["text"] for r in read_table(spark, table).collect()}
        assert out[5] == t  # the update applied
        assert 6 not in out  # the near-copy newcomer was gated


class TestDuplicateIdBatches:
    def test_curate_stream_duplicate_id_single_row(self, spark, tmpdir):
        from grape_vector_db_spark.streaming.ingest import (
            stream_curate_to_parquet,
        )

        src, table = f"{tmpdir}/cin", f"{tmpdir}/cout"
        text = "this is a perfectly fine sentence for the filter."
        spark.createDataFrame(
            [(4, text), (4, text)], "doc_id int, text string"
        ).write.parquet(src)
        q = stream_curate_to_parquet(
            spark.readStream.schema("doc_id int, text string").parquet(src),
            table, checkpoint=f"{tmpdir}/cck",
        )
        q.awaitTermination(60)
        # the rejoin-by-id joins used to cross-product the copies (up to
        # 16 rows for one id on the first-batch publish)
        assert read_table(spark, table).where("doc_id = 4").count() == 1

    def test_dedup_stream_first_batch_duplicate_id(self, spark, tmpdir):
        from grape_vector_db_spark.streaming.ingest import (
            stream_dedup_to_parquet,
        )

        src, tbl = f"{tmpdir}/din", f"{tmpdir}/dout"
        spark.createDataFrame(
            [(11, "first version of the text body"),
             (11, "second totally different words entirely"),
             (12, "another separate document here")],
            "doc_id int, text string",
        ).write.parquet(src)
        q = stream_dedup_to_parquet(
            spark.readStream.schema("doc_id int, text string").parquet(src),
            tbl, checkpoint=f"{tmpdir}/dck",
        )
        q.awaitTermination(60)
        # one row per id even on the FIRST batch (merge_upsert assumes a
        # unique existing side and would preserve a duplicate forever)
        assert read_table(spark, tbl).where("doc_id = 11").count() == 1
        assert read_table(spark, tbl).where("doc_id = 12").count() == 1


class TestAnomalySigmaZero:
    def test_in_band_constant_history_event_does_not_alert(self, spark):
        from grape_vector_db_spark.streaming.ingest import (
            anomaly_alert_stream,
        )

        events = spark.createDataFrame(
            [(1, "heartbeat", 5.0),   # exactly mu — NOT a deviation
             (2, "heartbeat", 6.0)],  # deviates from the constant
            "event_id long, event_type string, value double",
        )
        stats = spark.createDataFrame(
            [("heartbeat", 5.0, 0.0)],
            "event_type string, mu double, sigma double",
        )
        got = {
            r["event_id"]
            for r in anomaly_alert_stream(events, stats).collect()
        }
        # the NULL z disjunct used to poison the OR: every sigma==0
        # event alerted, value == mu included (alert storm)
        assert got == {2}
