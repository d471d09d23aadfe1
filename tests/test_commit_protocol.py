"""One commit protocol for every versioned table (sources/tables.py
``_commit``): plain publishes, bucket-manifest creates and bucket-manifest
merges/deletes all stage their files, CAS-claim ``t={N+1}``, re-check the
committed versions and only then write the layout's marker.

Fault injection: a writer stopped after each step (staged, claimed,
marker written, GC) leaves readers on a committed version whose stats
(plain) or manifest (bucketed) is readable, and the next write succeeds.
A stop is a ``Crash`` (a BaseException, so no cleanup handler runs — the
in-process stand-in for a killed writer) raised from the step that
follows. Races: two writers that listed the same version produce exactly
one winner.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time

import pytest

from grape_vector_db_spark.sources import tables as T

SCHEMA = "id long, text string"


class Crash(BaseException):
    """A writer killed outright: no except/finally of the engine runs."""


def _rows(spark, tag, ids):
    return spark.createDataFrame([(i, f"{tag}-{i}") for i in ids], SCHEMA)


class _Plain:
    marker = T._SUCCESS

    def create(self, spark, p, df):
        T.publish_table(spark, p, df)

    def write(self, spark, p, step):
        T.publish_table(spark, p, _rows(spark, f"s{step}", range(20)))

    def expected(self, step):
        return {i: f"s{step}-{i}" for i in range(20)}

    def versions(self, spark, p):
        return T.table_versions(spark, p)

    def read(self, spark, p):
        return {r["id"]: r["text"] for r in T.read_table(spark, p).collect()}

    def check_marked(self, spark, p):
        for v in self.versions(spark, p):
            st = T.read_table_stats(spark, p, version=v)
            assert st is not None, f"t={v} visible without its stats"
            assert st["rows"] == 20


class _Bucketed(_Plain):
    """One bucket-manifest table, each step another writer: step 1
    re-creates the table, step 2 merges ids 0-4, step 3 deletes id 17."""

    marker = T._MANIFEST

    def create(self, spark, p, df):
        T.write_table_bucketed(spark, p, df, n_buckets=2, id_col="id")

    def write(self, spark, p, step):
        if step == 1:
            self.create(spark, p, _rows(spark, "s1", range(20)))
        elif step == 2:
            T.merge_upsert_bucketed(
                spark, p, _rows(spark, "s2", range(5)), id_col="id"
            )
        else:
            T.delete_ids_bucketed(
                spark, p, spark.createDataFrame([(17,)], "id long"),
                id_col="id",
            )

    def expected(self, step):
        out = super().expected(min(step, 1))
        if step >= 2:
            out.update({i: f"s2-{i}" for i in range(5)})
        if step >= 3:
            del out[17]
        return out

    def versions(self, spark, p):
        return T._bucketed_versions(spark, p)

    def read(self, spark, p):
        return {
            r["id"]: r["text"]
            for r in T.read_table_bucketed(spark, p).collect()
        }

    def check_marked(self, spark, p):
        for v in self.versions(spark, p):
            man = T._read_manifest(spark, p, v)
            assert man is not None, f"t={v} visible without its manifest"
            for k, owner in man["buckets"].items():
                assert os.path.isdir(f"{p}/t={owner}/b={k}")


LAYOUTS = {"plain_publish": _Plain(), "bucketed": _Bucketed()}


def _age(path):
    old = time.time() - 2 * 24 * 3600
    os.utime(path, (old, old))


def _stages(p):
    return sorted(d for d in os.listdir(p) if d.startswith(".stage-t"))


@pytest.mark.parametrize("kind", sorted(LAYOUTS))
def test_stopped_writer_leaves_last_commit_and_next_write_succeeds(
    spark, tmp_path, monkeypatch, kind
):
    lay = LAYOUTS[kind]
    p = str(tmp_path / "tbl")
    lay.create(spark, p, _rows(spark, "s0", range(20)))
    committed = lay.expected(0)

    def readers_on(versions, rows=None):
        assert lay.versions(spark, p) == versions
        lay.check_marked(spark, p)
        if rows is not None:
            assert lay.read(spark, p) == rows

    def crash(*a, **kw):
        raise Crash()

    # 1) stopped after staging: the stage is invisible, nothing claimed
    monkeypatch.setattr(T, "_claim", crash)
    with pytest.raises(Crash):
        lay.write(spark, p, 1)
    monkeypatch.undo()
    assert len(_stages(p)) == 1 and not os.path.exists(f"{p}/t=2")
    readers_on([1], committed)

    # 2) stopped after the claim, before the marker (in the re-check)
    def fail_after_claim(exc):
        real_claim, real_list = T._claim, T._versions_with_marker
        claimed = []

        def claim(*a, **kw):
            claimed.append(real_claim(*a, **kw))
            return claimed[-1]

        def listing(*a, **kw):
            if claimed:
                raise exc
            return real_list(*a, **kw)

        monkeypatch.setattr(T, "_claim", claim)
        monkeypatch.setattr(T, "_versions_with_marker", listing)

    if kind == "plain_publish":
        # an error the writer survives releases its claim at once (the
        # release lives in the layout-blind _commit: one layout suffices)
        fail_after_claim(IOError("disk"))
        with pytest.raises(IOError):
            lay.write(spark, p, 1)
        monkeypatch.undo()
        assert not os.path.exists(f"{p}/t=2")
        readers_on([1])
    # a killed writer's claim holds the version while it may be live ...
    fail_after_claim(Crash())
    with pytest.raises(Crash):
        lay.write(spark, p, 1)
    monkeypatch.undo()
    assert glob.glob(f"{p}/t=2/._CLAIM-*")  # not adoptable while fresh
    # ... a write meanwhile raises, naming the claim's age and when it
    # becomes adoptable (a stopped writer is diagnosable from the error)
    with pytest.raises(
        T.ConcurrentMergeError,
        match=r"no commit marker and is \d+ s old: .* adoptable at 86400 s "
        r"old, in \d+ s",
    ):
        lay.write(spark, p, 1)
    readers_on([1], committed)
    # ... and is adopted once stale; the stale stage of 1) is reaped
    _age(f"{p}/t=2")
    for s in _stages(p):
        _age(f"{p}/{s}")
    lay.write(spark, p, 1)
    committed = lay.expected(1)
    readers_on([1, 2], committed)
    assert _stages(p) == []

    # 3) stopped after the marker, before GC: the new version is live
    monkeypatch.setattr(T, "_reap_abandoned", crash)
    with pytest.raises(Crash):
        lay.write(spark, p, 2)
    monkeypatch.undo()
    committed = lay.expected(2)
    readers_on([1, 2, 3], committed)

    # 4) a complete write after it: GC back to keep=2 versions
    lay.write(spark, p, 3)
    readers_on([3, 4], lay.expected(3))
    assert not glob.glob(f"{p}/t=*/._CLAIM-*")


def _hashes(d):
    out = {}
    for f in glob.glob(f"{d}/**/*.parquet", recursive=True):
        with open(f, "rb") as fh:
            out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "kind, loser, winner",
    [
        ("plain_publish", 1, 2),
        ("bucketed", 2, 3),  # a merge loses to a delete
    ],
)
def test_writers_that_listed_the_same_version_have_one_winner(
    spark, tmp_path, monkeypatch, kind, loser, winner
):
    """The loser lists t=1, the winner then commits t=2 in full, and the
    loser proceeds: it must raise without touching the winner's files
    (an in-place overwrite of t=2 deleted them)."""
    lay = LAYOUTS[kind]
    won = {}
    p = str(tmp_path / "tbl")
    lay.create(spark, p, _rows(spark, "s0", range(20)))
    real_list = T._versions_with_marker

    def listed_then_overtaken(spark_, path, marker):
        out = real_list(spark_, path, marker)
        if marker == lay.marker and not won:
            monkeypatch.setattr(T, "_versions_with_marker", real_list)
            lay.write(spark, p, winner)
            won["files"] = _hashes(f"{p}/t=2")
            won["rows"] = lay.read(spark, p)
        return out

    monkeypatch.setattr(T, "_versions_with_marker", listed_then_overtaken)
    with pytest.raises(T.ConcurrentMergeError):
        lay.write(spark, p, loser)
    monkeypatch.undo()
    assert won["files"] and _hashes(f"{p}/t=2") == won["files"]
    assert lay.read(spark, p) == won["rows"] != lay.expected(0)
    assert lay.versions(spark, p) == [1, 2]
    lay.check_marked(spark, p)
    assert _stages(p) == []
