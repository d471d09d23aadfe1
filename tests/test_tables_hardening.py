"""sources/tables.py hardening pins (self-review findings):

1. table_exists recognizes a legacy HIVE-PARTITIONED parquet root
   (col=val subdirs, no root-level files) — answering "absent" routed
   upsert_table into its first-write branch and silently discarded the
   whole existing corpus.
2. compact() survives the legacy-flat-root-beside-uncommitted-t=N
   state (current_table_path resolves to a glob that listStatus would
   treat as a literal name).
"""

from __future__ import annotations

import grape_vector_db_spark.sources.tables as T


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, lang string")


class TestTableExistsPartitionedLegacy:
    def test_partitioned_root_is_a_table(self, spark, tmpdir):
        p = f"{tmpdir}/legacy_part"
        _df(spark, [(1, "a", "en"), (2, "b", "fr")]).write.partitionBy(
            "lang"
        ).parquet(p)
        # no root-level .parquet files — only lang=en/ lang=fr/ dirs
        assert T.table_exists(spark, p)
        # and the upsert MERGES instead of discarding the corpus
        T.upsert_table(spark, p, _df(spark, [(3, "c", "de")]), id_col="id")
        got = {r["id"] for r in T.read_table(spark, p).collect()}
        assert got == {1, 2, 3}

    def test_bare_dir_and_uncommitted_version_still_absent(
        self, spark, tmpdir
    ):
        p = f"{tmpdir}/bare"
        fs, P = T._hadoop_fs(spark, p)
        fs.mkdirs(P(f"{p}/t=3"))  # crashed writer's uncommitted claim
        assert not T.table_exists(spark, p)


class TestCompactGlobGuard:
    def test_compact_survives_flat_root_with_uncommitted_version(
        self, spark, tmpdir
    ):
        p = f"{tmpdir}/flatglob"
        _df(spark, [(1, "a", "en"), (2, "b", "fr")]).write.parquet(p)
        fs, P = T._hadoop_fs(spark, p)
        fs.mkdirs(P(f"{p}/t=1"))  # crashed FIRST publish, no _SUCCESS
        assert "*" in T.current_table_path(spark, p)
        T.compact(spark, p, target_partitions=1)  # used to crash
        assert {r["id"] for r in T.read_table(spark, p).collect()} == {1, 2}
