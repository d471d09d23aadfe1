"""Delta-bounded per-vector index maintenance: bucketed binary/SQ
layouts — refresh and delete rewrite only touched buckets."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.sources.tables import (
    _bucketed_versions,
    _read_manifest,
    delete_ids_bucketed,
    merge_upsert_bucketed,
    read_table_bucketed,
    write_table_bucketed,
)

N_BUCKETS = 8


class TestDeleteIdsBucketed:
    @pytest.fixture()
    def table(self, spark, tmp_path):
        path = f"{tmp_path}/tbl"
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "id long, val string"
        )
        write_table_bucketed(spark, path, df, N_BUCKETS, id_col="id")
        return path

    def test_deletes_only_touch_their_buckets(self, spark, table):
        before = _read_manifest(
            spark, table, _bucketed_versions(spark, table)[-1]
        )
        # ids 8 and 16 hash to specific buckets; every other bucket's
        # owner version must not move
        doomed = spark.createDataFrame([(8,), (16,)], "id long")
        delete_ids_bucketed(spark, table, doomed, id_col="id")
        after = _read_manifest(
            spark, table, _bucketed_versions(spark, table)[-1]
        )
        moved = {
            k for k in before["buckets"]
            if after["buckets"].get(k) != before["buckets"][k]
        }
        assert 1 <= len(moved) <= 2  # the doomed ids' buckets only
        rows = {r["id"] for r in read_table_bucketed(spark, table).collect()}
        assert rows == set(range(64)) - {8, 16}

    def test_emptied_bucket_leaves_manifest(self, spark, tmp_path):
        path = f"{tmp_path}/tbl2"
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(16)], "id long, val string"
        )
        write_table_bucketed(spark, path, df, N_BUCKETS, id_col="id")
        # find one bucket's full membership and kill it entirely
        with_b = read_table_bucketed(spark, path)
        target = with_b.select("bucket").head()["bucket"]
        members = [
            r["id"] for r in with_b.where(F.col("bucket") == target).collect()
        ]
        doomed = spark.createDataFrame([(i,) for i in members], "id long")
        delete_ids_bucketed(spark, path, doomed, id_col="id")
        man = _read_manifest(spark, path, _bucketed_versions(spark, path)[-1])
        assert str(target) not in man["buckets"]
        rows = {r["id"] for r in read_table_bucketed(spark, path).collect()}
        assert rows == set(range(16)) - set(members)

    def test_absent_ids_are_noops(self, spark, table):
        v_before = _bucketed_versions(spark, table)[-1]
        # ids whose buckets exist but rows don't, plus ids in the table
        doomed = spark.createDataFrame([(10**9,), (10**9 + 1,)], "id long")
        delete_ids_bucketed(spark, table, doomed, id_col="id")
        rows = read_table_bucketed(spark, table).count()
        assert rows == 64

    def test_wrong_id_col_rejected(self, spark, table):
        doomed = spark.createDataFrame([(1,)], "other long")
        with pytest.raises(ValueError, match="bucketed by"):
            delete_ids_bucketed(spark, table, doomed, id_col="other")

    def test_delete_then_merge_roundtrip(self, spark, table):
        doomed = spark.createDataFrame([(5,), (6,)], "id long")
        delete_ids_bucketed(spark, table, doomed, id_col="id")
        back = spark.createDataFrame([(5, "v5b")], "id long, val string")
        merge_upsert_bucketed(spark, table, back, id_col="id")
        got = {
            r["id"]: r["val"]
            for r in read_table_bucketed(spark, table).collect()
        }
        assert got[5] == "v5b" and 6 not in got


class TestBucketedFacadeIndexes:
    @pytest.fixture()
    def db(self, spark, docs, emb):
        d = tempfile.mkdtemp(prefix="gvdb_bidx_")
        inst = GrapeVectorDB(spark, d)
        inst.add_documents(docs, emb)
        yield inst
        shutil.rmtree(d, ignore_errors=True)

    def test_bucketed_binary_index_serves_and_refreshes_delta(
        self, db, spark, emb
    ):
        db.build_index("binary", n_buckets=N_BUCKETS)
        path = db._path("index_packed")
        qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
        base = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=5, index="binary").collect()
        ]
        assert base[0][0] == 3
        man_before = _read_manifest(
            spark, path, _bucketed_versions(spark, path)[-1]
        )
        # one-vector insert: refresh must move at most ONE bucket
        nid = 10**6 + 9
        ndocs = spark.createDataFrame(
            [(nid, "the bucketed refresh row", "en", "web", 24)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        nemb = spark.createDataFrame(
            [(nid, qv)], "vec_id long, embedding array<float>"
        )
        db.add_documents(ndocs, nemb)
        man_after = _read_manifest(
            spark, path, _bucketed_versions(spark, path)[-1]
        )
        moved = {
            k for k in man_before["buckets"]
            if man_after["buckets"].get(k) != man_before["buckets"][k]
        }
        assert len(moved) <= 1  # delta-bounded: the batch's bucket only
        got = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=3, index="binary").collect()
        }
        assert nid in got

    def test_bucketed_sq_delete_cascades_delta(self, db, spark, emb):
        db.build_index("sq", n_buckets=N_BUCKETS)
        path = db._path("index_sq")
        man_before = _read_manifest(
            spark, path, _bucketed_versions(spark, path)[-1]
        )
        vid = int(db.documents().head()["doc_id"])
        db.delete_documents(f"doc_id = {vid}")
        man_after = _read_manifest(
            spark, path, _bucketed_versions(spark, path)[-1]
        )
        moved = {
            k for k in man_before["buckets"]
            if man_after["buckets"].get(k) != man_before["buckets"][k]
        }
        assert len(moved) <= 1
        assert (
            read_table_bucketed(spark, path)
            .where(F.col("vec_id") == vid)
            .count()
            == 0
        )

    def test_rebuild_preserves_bucketed_layout(self, db, spark):
        db.build_index("binary", n_buckets=N_BUCKETS)
        db.build_index("binary")  # no n_buckets: must NOT flatten
        path = db._path("index_packed")
        assert _bucketed_versions(spark, path)
        man = _read_manifest(spark, path, _bucketed_versions(spark, path)[-1])
        assert int(man["n_buckets"]) == N_BUCKETS

    def test_backup_restore_keeps_bucketing(self, db, spark):
        db.build_index("binary", n_buckets=N_BUCKETS)
        bdir = tempfile.mkdtemp(prefix="gvdb_bak_")
        ddir = tempfile.mkdtemp(prefix="gvdb_rest_")
        try:
            manifest = db.backup(bdir)
            assert {"kind": "binary", "n_buckets": N_BUCKETS} in manifest[
                "indexes"
            ]
            fresh = GrapeVectorDB(spark, ddir)
            fresh.restore(bdir)
            assert _bucketed_versions(spark, fresh._path("index_packed"))
        finally:
            shutil.rmtree(bdir, ignore_errors=True)
            shutil.rmtree(ddir, ignore_errors=True)

    def test_cache_key_sees_bucketed_refresh(self, db, spark, emb):
        db.build_index("binary", n_buckets=N_BUCKETS)
        qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
        db.search_cached(vector=qv, limit=5, index="binary").collect()
        before = db._entry("index_packed")
        nid = 10**6 + 11
        db.add_documents(
            spark.createDataFrame(
                [(nid, "the fingerprint row", "en", "web", 19)],
                "doc_id long, text string, lang string, source string, n_chars long",
            ),
            spark.createDataFrame(
                [(nid, qv)], "vec_id long, embedding array<float>"
            ),
        )
        # the bucketed refresh moved the catalog entry the key embeds
        assert db._entry("index_packed") != before
        got = db.search_cached(vector=qv, limit=5, index="binary").collect()
        assert db.cache_stats["misses"] == 2
        assert nid in {r["vec_id"] for r in got}


class TestDeleteMergeRaces:
    """DELETE shares MERGE's single-winner CAS — race it against a merge
    both ways (the test_bucketed_merge interleave technique: the loser's
    data-staging call first runs the winner's ENTIRE operation)."""

    def _base(self, spark, tmp_path):
        import grape_vector_db_spark.sources.tables as T

        path = f"{tmp_path}/race"
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "id long, val string"
        )
        T.write_table_bucketed(spark, path, df, 4, id_col="id")
        return T, path

    def test_raw_delete_loses_cleanly(self, spark, tmp_path, monkeypatch):
        T, path = self._base(spark, tmp_path)
        winner = spark.createDataFrame([(7, "w7")], "id long, val string")
        doomed = spark.createDataFrame([(9,)], "id long")
        real = T._write_bucket_dirs
        state = {"fired": False}

        def interleaved(df, id_col, nb, dest):
            if not state["fired"]:
                state["fired"] = True
                T.merge_upsert_bucketed(spark, path, winner, id_col="id")
            return real(df, id_col, nb, dest)

        monkeypatch.setattr(T, "_write_bucket_dirs", interleaved)
        with pytest.raises(T.ConcurrentMergeError):
            T.delete_ids_bucketed(spark, path, doomed, id_col="id")
        monkeypatch.setattr(T, "_write_bucket_dirs", real)
        got = {r["id"]: r["val"] for r in read_table_bucketed(spark, path).collect()}
        # winner intact; the losing delete published NOTHING (9 survives)
        assert got[7] == "w7" and 9 in got and len(got) == 40

    def test_raw_merge_loses_to_delete_cleanly(
        self, spark, tmp_path, monkeypatch
    ):
        T, path = self._base(spark, tmp_path)
        doomed = spark.createDataFrame([(7,)], "id long")
        upd = spark.createDataFrame([(9, "m9")], "id long, val string")
        real = T._write_bucket_dirs
        state = {"fired": False}

        def interleaved(df, id_col, nb, dest):
            if not state["fired"]:
                state["fired"] = True
                T.delete_ids_bucketed(spark, path, doomed, id_col="id")
            return real(df, id_col, nb, dest)

        monkeypatch.setattr(T, "_write_bucket_dirs", interleaved)
        with pytest.raises(T.ConcurrentMergeError):
            T.merge_upsert_bucketed(spark, path, upd, id_col="id")
        monkeypatch.setattr(T, "_write_bucket_dirs", real)
        got = {r["id"]: r["val"] for r in read_table_bucketed(spark, path).collect()}
        # delete won; losing merge published nothing
        assert 7 not in got and got[9] == "v9" and len(got) == 39
