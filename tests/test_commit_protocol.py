"""One commit protocol for every versioned table (sources/tables.py
``_commit``): a publish stages its files, CAS-claims ``t={N+1}``,
re-checks the committed versions and only then writes ``_SUCCESS``.

Fault injection: a writer stopped after each step (staged, claimed,
marker written, GC) leaves readers on a committed version whose stats
are readable, and the next write succeeds. A stop is a ``Crash`` (a
BaseException, so no cleanup handler runs — the in-process stand-in for
a killed writer) raised from the step that follows. Races: two writers
that listed the same version produce exactly one winner. Crashed
writers' stages and claims are reaped or adopted once stale, never
while a live writer may own them.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time

import pytest

from grape_vector_db_spark.sources import tables as T

SCHEMA = "id long, text string"


class Crash(BaseException):
    """A writer killed outright: no except/finally of the engine runs."""


def _rows(spark, tag, ids):
    return spark.createDataFrame([(i, f"{tag}-{i}") for i in ids], SCHEMA)


class _Plain:
    """One plain table; each step another writer's full publish."""

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


def _age(path):
    old = time.time() - 2 * 24 * 3600
    os.utime(path, (old, old))


def _stages(p):
    return sorted(d for d in os.listdir(p) if d.startswith(".stage-t"))


def test_stopped_writer_leaves_last_commit_and_next_write_succeeds(
    spark, tmp_path, monkeypatch
):
    lay = _Plain()
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

    # an error the writer survives releases its claim at once
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


def test_writers_that_listed_the_same_version_have_one_winner(
    spark, tmp_path, monkeypatch
):
    """The loser lists t=1, the winner then commits t=2 in full, and the
    loser proceeds: it must raise without touching the winner's files
    (an in-place overwrite of t=2 deleted them)."""
    lay = _Plain()
    won = {}
    p = str(tmp_path / "tbl")
    lay.create(spark, p, _rows(spark, "s0", range(20)))
    real_list = T._versions_with_marker

    def listed_then_overtaken(spark_, path):
        out = real_list(spark_, path)
        if not won:
            monkeypatch.setattr(T, "_versions_with_marker", real_list)
            lay.write(spark, p, 2)
            won["files"] = _hashes(f"{p}/t=2")
            won["rows"] = lay.read(spark, p)
        return out

    monkeypatch.setattr(T, "_versions_with_marker", listed_then_overtaken)
    with pytest.raises(T.ConcurrentMergeError):
        lay.write(spark, p, 1)
    monkeypatch.undo()
    assert won["files"] and _hashes(f"{p}/t=2") == won["files"]
    assert lay.read(spark, p) == won["rows"] != lay.expected(0)
    assert lay.versions(spark, p) == [1, 2]
    lay.check_marked(spark, p)
    assert _stages(p) == []


# -- upsert races, crashed writers' leftovers, facade retry budget ---------


def _base(spark):
    return spark.createDataFrame(
        [(i, f"text-{i}", float(i)) for i in range(200)],
        "id long, text string, score double",
    )


def _upsert(spark, p, rows):
    T.upsert_table(
        spark, p, spark.createDataFrame(rows, "id long, text string, score double")
    )


def _texts(spark, p):
    return {r["id"]: r["text"] for r in T.read_table(spark, p).collect()}


def test_concurrent_merge_loser_aborts_cleanly(spark, tmp_path, monkeypatch):
    """Two upserts that both read version t=1: the winner commits t=2;
    the loser must raise ConcurrentMergeError WITHOUT publishing — no
    silent clobber (both would write the same t=2, the second
    overwriting the first's data files).

    Interleaving is forced deterministically: the loser's claim first
    runs the winner's ENTIRE upsert, then proceeds."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    real_claim = T._claim
    state = {"fired": False}

    def interleaved(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            _upsert(spark, p, [(7, "winner-7", 700.0)])
        return real_claim(*a, **kw)

    monkeypatch.setattr(T, "_claim", interleaved)
    with pytest.raises(T.ConcurrentMergeError):
        _upsert(spark, p, [(7, "loser-7", 777.0), (9, "loser-9", 999.0)])
    monkeypatch.undo()

    # winner's upsert survives intact; loser published NOTHING
    got = {
        r["id"]: (r["text"], r["score"])
        for r in T.read_table(spark, p).collect()
    }
    assert got[7] == ("winner-7", 700.0)
    assert got[9] == ("text-9", 9.0)
    assert len(got) == 200
    # no stage or unclaimed version dirs pollute the table root
    assert _stages(p) == []
    assert T.table_versions(spark, p) == [1, 2]


def test_concurrent_merge_stale_snapshot_detected_after_gc(
    spark, tmp_path, monkeypatch
):
    """Commit step 3: under keep=1 retention the contended version dir
    can be deleted before the straggler's rename — the rename then
    SUCCEEDS, and only the committed-version re-check stands between a
    stale snapshot and a silent lost update.

    The straggler read t=1 and staged its merge; before its claim two
    keep=1 upserts commit t=2 and t=3, and t=3's retention deletes t=2."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    real_claim = T._claim
    state = {"fired": False}

    def interleaved(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            for tag in ("w2", "w3"):
                T.upsert_table(
                    spark,
                    p,
                    spark.createDataFrame(
                        [(7, f"{tag}-7", 7.0)], "id long, text string, score double"
                    ),
                    keep=1,
                )
            assert T.table_versions(spark, p) == [3]
            assert not os.path.exists(f"{p}/t=2")
        return real_claim(*a, **kw)

    monkeypatch.setattr(T, "_claim", interleaved)
    with pytest.raises(T.ConcurrentMergeError, match="committed under"):
        _upsert(spark, p, [(9, "stale-9", 999.0)])
    monkeypatch.undo()

    got = _texts(spark, p)
    assert got[7] == "w3-7" and got[9] == "text-9" and len(got) == 200
    assert T.table_versions(spark, p) == [3]
    # the straggler's claimed-then-aborted t=2 dir and its stage are gone
    assert not os.path.exists(f"{p}/t=2")
    assert _stages(p) == []


def test_gc_reaps_only_stale_merge_stages(spark, tmp_path):
    """Abandoned stage dot-dirs (crashed writers) are reaped by GC once
    older than a day; fresh stages (a possibly in-flight write) survive,
    and neither is ever visible to readers."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    stale = os.path.join(p, ".stage-t2-deadbeef")
    fresh = os.path.join(p, ".stage-t2-cafecafe")
    os.makedirs(stale)
    os.makedirs(fresh)
    _age(stale)

    _upsert(spark, p, [(7, "w", 7.0)])
    assert not os.path.isdir(stale), "stale stage must be reaped"
    assert os.path.isdir(fresh), "fresh stage may belong to a live write"
    # stages never count as versions
    assert T.table_versions(spark, p) == [1, 2]


def test_crashed_claim_is_adopted_by_next_merge(spark, tmp_path):
    """A writer that died between the CAS claim rename and the marker
    write leaves an uncommitted t=N+1 dir. Writes must ADOPT (delete and
    re-claim) it once it is older than the stale-claim cutoff — GC alone
    cannot help, because GC only runs after a successful write, so the
    corpse would otherwise mean permanent ConcurrentMergeError for the
    table (ADVICE r7 medium)."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    corpse = os.path.join(p, "t=2")
    os.makedirs(corpse)
    junk = os.path.join(corpse, "part-junk.parquet")
    with open(junk, "wb") as f:
        f.write(b"not a real parquet")
    _age(corpse)

    _upsert(spark, p, [(7, "revived", 700.0)])
    got = _texts(spark, p)
    assert got[7] == "revived" and len(got) == 200
    assert T.table_versions(spark, p) == [1, 2]
    # the corpse's junk did not leak into the adopted version
    assert not os.path.exists(junk)


def test_fresh_uncommitted_claim_still_loses(spark, tmp_path):
    """A RECENT marker-less t=N+1 may belong to a live writer between
    its claim and its marker commit — a write must NOT adopt it."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    os.makedirs(os.path.join(p, "t=2", "cluster=0"))
    with pytest.raises(T.ConcurrentMergeError):
        _upsert(spark, p, [(7, "late", 700.0)])


def test_gc_reaps_stale_crashed_claims(spark, tmp_path):
    """Defense in depth: GC (which runs after every successful write)
    also reaps marker-less t=* dirs older than the cutoff, even ones
    beyond the next contended version."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    corpse = os.path.join(p, "t=9")
    os.makedirs(corpse)
    _age(corpse)
    _upsert(spark, p, [(7, "w", 7.0)])
    assert not os.path.isdir(corpse)
    assert T.table_versions(spark, p) == [1, 2]


def test_out_of_band_stage_deletion_cannot_misclaim(spark, tmp_path, monkeypatch):
    """ADVICE r7 low: ownership is verified POSITIVELY via a writer-unique
    token file, not inferred from the stage's absence. If the stage is
    deleted out of band (another writer's GC reaping a >24h stage), the
    token create re-makes an EMPTY stage, and the claim must abort — NOT
    commit a version without its data and stats."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    real_claim = T._claim

    def lose_stage_then_claim(spark_, path, stage, *a, **kw):
        shutil.rmtree(stage)  # simulates a concurrent GC reap
        return real_claim(spark_, path, stage, *a, **kw)

    monkeypatch.setattr(T, "_claim", lose_stage_then_claim)
    with pytest.raises(T.ConcurrentMergeError):
        _upsert(spark, p, [(7, "ghost", 700.0)])
    monkeypatch.undo()

    # nothing published; table intact and still writable
    assert T.table_versions(spark, p) == [1]
    assert not os.path.exists(f"{p}/t=2")
    assert _texts(spark, p)[7] == "text-7"
    _upsert(spark, p, [(7, "real", 700.0)])
    assert _texts(spark, p)[7] == "real"


def test_facade_write_retries_bounded_attempts(spark, docs, tmp_path, monkeypatch):
    """Pathological contention surfaces after the facade write loop's
    fixed attempt budget instead of looping forever."""
    from grape_vector_db_spark import db as db_module

    inst = db_module.GrapeVectorDB(spark, str(tmp_path / "db"))
    T.publish_table(spark, inst._path("documents"), docs)
    calls = {"n": 0}

    def always_lose(*a, **kw):
        calls["n"] += 1
        raise T.ConcurrentMergeError("contended")

    monkeypatch.setattr(db_module, "publish_table", always_lose)
    upd = spark.createDataFrame([(7, "x")], "doc_id long, text string")
    with pytest.raises(T.ConcurrentMergeError):
        inst.add_documents(upd)
    assert calls["n"] == inst._WRITE_ATTEMPTS == 5
