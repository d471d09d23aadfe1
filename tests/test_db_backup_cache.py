"""Facade whole-DB backup/restore (S12) and the version-keyed query
cache (§2.11)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_bc_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


class TestBackupRestore:
    def test_failed_manifest_rename_raises(self, db, monkeypatch):
        """A backup whose _MANIFEST.json rename did not land has no
        manifest and cannot be restored, so backup() must raise instead
        of returning normally."""
        import grape_vector_db_spark.sources.tables as T

        real = T._hadoop_fs

        class NoRename:
            def __init__(self, fs):
                self._fs = fs

            def __getattr__(self, name):
                return getattr(self._fs, name)

            def rename(self, src, dst):
                return False

        def fs_without_rename(spark, path):
            fs, P = real(spark, path)
            return NoRename(fs), P

        bdir = tempfile.mkdtemp(prefix="gvdb_bak_")
        try:
            monkeypatch.setattr(T, "_hadoop_fs", fs_without_rename)
            with pytest.raises(IOError):
                db.backup(bdir)
        finally:
            shutil.rmtree(bdir, ignore_errors=True)

    def test_roundtrip_restores_data_and_rebuilds_indexes(self, db, spark, emb):
        db.build_index("partition", column="lang")
        db.build_index("sq")
        bdir = tempfile.mkdtemp(prefix="gvdb_bak_")
        ddir = tempfile.mkdtemp(prefix="gvdb_rest_")
        try:
            manifest = db.backup(bdir)
            kinds = {i["kind"] for i in manifest["indexes"]}
            assert kinds == {"partition", "sq"}
            fresh = GrapeVectorDB(spark, ddir)
            fresh.restore(bdir)
            assert fresh.stats()["document_count"] == db.stats()["document_count"]
            assert set(fresh.stats()["indexes"]) == {
                "index_sq", "index_partition"
            }
            assert fresh.stats()["partition_column"] == "lang"
            qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
            got = [
                (r["vec_id"], r["score"])
                for r in fresh.search(vector=qv, limit=5).collect()
            ]
            want = [
                (r["vec_id"], r["score"])
                for r in db.search(vector=qv, limit=5).collect()
            ]
            assert got == want
        finally:
            shutil.rmtree(bdir, ignore_errors=True)
            shutil.rmtree(ddir, ignore_errors=True)

    def test_corrupted_backup_refuses_restore(self, db, spark):
        import glob
        import os

        bdir = tempfile.mkdtemp(prefix="gvdb_bak_")
        ddir = tempfile.mkdtemp(prefix="gvdb_rest_")
        try:
            db.backup(bdir)
            # flip a stored checksum by rewriting one row's _sha256
            part = spark.read.parquet(f"{bdir}/documents")
            bad = part.withColumn(
                "_sha256",
                F.when(F.col("doc_id") == 1, F.lit("0" * 64)).otherwise(
                    F.col("_sha256")
                ),
            )
            tmp = f"{bdir}/documents_tampered"
            bad.write.mode("overwrite").parquet(tmp)
            for f in glob.glob(f"{bdir}/documents/*.parquet"):
                os.remove(f)
            for f in glob.glob(f"{tmp}/*.parquet"):
                shutil.move(f, f"{bdir}/documents/{os.path.basename(f)}")
            fresh = GrapeVectorDB(spark, ddir)
            with pytest.raises(ValueError, match="checksum"):
                fresh.restore(bdir)
            # nothing published into the target store
            assert not fresh._versions("documents")
        finally:
            shutil.rmtree(bdir, ignore_errors=True)
            shutil.rmtree(ddir, ignore_errors=True)


class TestQueryCache:
    def test_repeat_hits_and_mutation_misses(self, db, spark, emb):
        qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
        a = db.search_cached(vector=qv, limit=5)
        b = db.search_cached(vector=qv, limit=5)
        assert a is b  # same persisted DataFrame — a true cache hit
        assert db.cache_stats["hits"] == 1 and db.cache_stats["misses"] == 1
        # a different request is a different key
        db.search_cached(vector=qv, limit=7)
        assert db.cache_stats["misses"] == 2

    def test_ingest_invalidates_by_construction(self, db, spark, emb):
        qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
        before = {r["vec_id"] for r in db.search_cached(vector=qv, limit=3).collect()}
        nid = 10**6 + 42
        ndocs = spark.createDataFrame(
            [(nid, "the cache invalidation row", "en", "web", 26)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        nemb = spark.createDataFrame(
            [(nid, [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]])],
            "vec_id long, embedding array<float>",
        )
        db.add_documents(ndocs, nemb)
        after = {r["vec_id"] for r in db.search_cached(vector=qv, limit=3).collect()}
        assert nid in after and nid not in before
        # the stale pre-ingest entry was a MISS on the new fingerprint
        assert db.cache_stats["misses"] >= 2

    def test_filtered_requests_key_separately(self, db, emb):
        qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
        flt = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
        plain = db.search_cached(vector=qv, limit=5)
        filt = db.search_cached(vector=qv, limit=5, filter=flt)
        assert plain is not filt
        assert db.search_cached(vector=qv, limit=5, filter=flt) is filt
