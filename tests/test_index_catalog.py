"""Multi-table index consistency: an IVF index is TWO tables (centroids +
assignments) whose publishes are only individually atomic. One
``{path}/_catalog`` version pins the pair (the catalog of
sources.tables), so readers never see a half-rebuilt mix (new centroids
with old postings scored in the wrong geometry), a save that loses a
race to another save raises instead of pairing its tables with the
winner's, and retention keeps only the versions the catalogs reference."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.operators import ann
from grape_vector_db_spark.sources import tables as T


@pytest.fixture()
def idx_dir():
    d = tempfile.mkdtemp(prefix="gvdb_idxcat_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _placements(assigned) -> list:
    return sorted((r["id"], r["cluster"]) for r in assigned.collect())


def test_crashed_rebuild_keeps_consistent_pair(spark, emb, idx_dir):
    sub = emb.select("vec_id", "embedding").limit(200)
    cents_py = ann.fixed_centroids(nlist=4, dim=64, seed=7)
    cents1, assigned1 = ann.ivf_build_fixed(sub, cents_py)
    ann.save_index(idx_dir, cents1, assigned1)

    c0, a0 = ann.load_index(spark, idx_dir)
    n_cents0, n_assigned0 = c0.count(), a0.count()
    assert n_cents0 == 4

    # simulate a rebuild that crashed between the two publishes: only the
    # centroids table gets a new version (8 clusters now)
    cents_py8 = ann.fixed_centroids(nlist=8, dim=64, seed=11)
    cents2, _assigned2 = ann.ivf_build_fixed(sub, cents_py8)
    T.publish_table(spark, f"{idx_dir}/centroids", cents2)

    # readers still get the OLD consistent pair, not 8 new centroids
    # against 4-cluster postings
    c1, a1 = ann.load_index(spark, idx_dir)
    assert c1.count() == n_cents0
    assert a1.count() == n_assigned0
    got = {r["cluster"] for r in c1.select("cluster").distinct().collect()}
    assert got == {0, 1, 2, 3}

    # a completed save commits a new catalog and the new pair serves
    cents3, assigned3 = ann.ivf_build_fixed(sub, cents_py8)
    ann.save_index(idx_dir, cents3, assigned3)
    c2, a2 = ann.load_index(spark, idx_dir)
    assert c2.count() == 8
    assert a2.join(c2.select("cluster"), "cluster", "left_anti").count() == 0


def test_index_without_catalog_opens_newest_pair(spark, emb, idx_dir):
    """Indexes saved before the catalog existed keep working:
    load_index opens the newest committed version of each table."""
    sub = emb.select("vec_id", "embedding").limit(100)
    cents_py = ann.fixed_centroids(nlist=4, dim=64, seed=7)
    cents, assigned = ann.ivf_build_fixed(sub, cents_py)
    ann.save_index(idx_dir, cents, assigned)
    shutil.rmtree(f"{idx_dir}/_catalog")
    c, a = ann.load_index(spark, idx_dir)
    assert c.count() == 4 and a.count() == 100


def test_pruned_search_unchanged_through_catalog(spark, emb, idx_dir):
    """ivf_search_pruned over a catalog-pinned index returns the same
    rows as the join-based search — the pinned-version read keeps
    partition pruning and result parity."""
    sub = emb.select("vec_id", "embedding").limit(300)
    cents_py = ann.fixed_centroids(nlist=4, dim=64, seed=7)
    cents, assigned = ann.ivf_build_fixed(sub, cents_py)
    ann.save_index(idx_dir, cents, assigned)
    qv = list(sub.where(F.col("vec_id") == 3).head()["embedding"])
    got = ann.ivf_search_pruned(spark, idx_dir, qv, k=5, nprobe=2).collect()
    want = ann.ivf_flat_search(sub, cents_py, qv, k=5, nprobe=2).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_interleaved_saves_one_wins_whole_pair(
    spark, emb, idx_dir, monkeypatch
):
    """Writer B runs a whole save_index between writer A's two
    publishes. A loses the catalog commit and raises; readers get B's
    centroids WITH B's postings, never B's 8 centroids with A's 4-cell
    postings; the next save goes through."""
    sub = emb.select("vec_id", "embedding").limit(40)
    cents4, assigned4 = ann.ivf_build_fixed(
        sub, ann.fixed_centroids(nlist=4, dim=64, seed=7)
    )
    cents8, assigned8 = ann.ivf_build_fixed(
        sub, ann.fixed_centroids(nlist=8, dim=64, seed=11)
    )
    ann.save_index(idx_dir, cents4, assigned4)
    real = T.publish_table
    raced = []

    def publish(spark, path, df, **kw):
        version = real(spark, path, df, **kw)
        if path.endswith("/centroids") and not raced:
            raced.append(path)
            ann.save_index(idx_dir, cents8, assigned8)  # writer B
        return version

    monkeypatch.setattr(T, "publish_table", publish)
    with pytest.raises(T.ConcurrentMergeError):
        ann.save_index(idx_dir, cents4, assigned4)  # writer A
    monkeypatch.undo()
    assert raced

    c, a = ann.load_index(spark, idx_dir)
    assert c.count() == 8
    assert _placements(a) == _placements(assigned8)

    ann.save_index(idx_dir, cents4, assigned4)
    c, a = ann.load_index(spark, idx_dir)
    assert c.count() == 4
    assert _placements(a) == _placements(assigned4)


def test_retention_keeps_what_the_two_newest_catalogs_name(
    spark, emb, idx_dir
):
    sub = emb.select("vec_id", "embedding").limit(40)
    cents, assigned = ann.ivf_build_fixed(
        sub, ann.fixed_centroids(nlist=4, dim=64, seed=7)
    )
    for _ in range(3):
        ann.save_index(idx_dir, cents, assigned)
    catalogs = T.table_versions(spark, f"{idx_dir}/_catalog")
    assert catalogs == [2, 3]
    named = {"centroids": set(), "assignments": set()}
    for m in catalogs:
        body = T._read_control(
            spark, f"{idx_dir}/_catalog/t={m}/{T._CATALOG}"
        )
        for table, (version, _layout) in body["tables"].items():
            named[table].add(version)
    for table, versions in named.items():
        on_disk = {
            int(d[2:])
            for d in os.listdir(f"{idx_dir}/{table}")
            if d.startswith("t=")
        }
        assert on_disk == versions == {2, 3}, table
