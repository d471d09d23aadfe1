"""One commit protocol for every versioned table (sources/tables.py
``_commit``): a publish numbers its version past every ``t=N`` dir on
disk, stages its files, sidecar and ``_SUCCESS`` together, commits them
with ONE CAS rename onto ``t={N+1}``, then re-checks the committed
versions.

Fault injection: a writer stopped after each step (staged, renamed, GC)
leaves readers on a committed version whose stats are readable, and the
next write succeeds at once. A stop is a ``Crash`` (a BaseException, so
no cleanup handler runs — the in-process stand-in for a killed writer)
raised from the step that follows. Races: two writers that listed the
same version produce exactly one winner, and a writer that lists a
version committed after the one it read renames nothing. Where the
rename is a copy, the marker follows it. A marker-less ``t=N`` dir
(a stopped writer's, a legacy layout's) never blocks a write and is
never read; crashed writers' stages are reaped once stale, never while
a live writer may own them. A publish lists the table three times.
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

    # 2) stopped right after the claim rename (in the re-check)
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

    # an error the writer survives drops its version again
    fail_after_claim(IOError("disk"))
    with pytest.raises(IOError):
        lay.write(spark, p, 1)
    monkeypatch.undo()
    assert not os.path.exists(f"{p}/t=2")
    readers_on([1], committed)
    # a killed writer's rename has committed the version whole
    fail_after_claim(Crash())
    with pytest.raises(Crash):
        lay.write(spark, p, 1)
    monkeypatch.undo()
    committed = lay.expected(1)
    readers_on([1, 2], committed)

    # 3) the next write succeeds at once, no dir aged; stopped after
    # its commit, before GC, the new version is live
    monkeypatch.setattr(T, "_retain_versions", crash)
    with pytest.raises(Crash):
        lay.write(spark, p, 2)
    monkeypatch.undo()
    committed = lay.expected(2)
    readers_on([1, 2, 3], committed)

    # 4) a complete write after it: GC back to keep=2 versions, the
    # killed writer's claim token going with its version; the fresh
    # stage of 1) may be a live writer's, so it stays
    lay.write(spark, p, 3)
    readers_on([3, 4], lay.expected(3))
    assert not glob.glob(f"{p}/t=*/._CLAIM-*")
    assert len(_stages(p)) == 1


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


def test_a_writer_that_read_a_stale_version_renames_nothing(
    spark, tmp_path, monkeypatch
):
    """The loser read t=1, then the winner commits t=2 in full before the
    loser lists the table, and the loser is armed to stop right after a
    claim rename. It must raise before renaming: a rename onto t=3 would
    serve its stale rows as the newest version until its re-check
    dropped them, and for good once it was stopped in between."""
    lay = _Plain()
    p = str(tmp_path / "tbl")
    lay.create(spark, p, _rows(spark, "s0", range(20)))
    real_list, real_claim = T._versions_with_marker, T._claim
    renamed = []

    def claim_then_stop(*a, **kw):
        renamed.append(real_claim(*a, **kw))
        raise Crash()

    def read_then_overtaken(spark_, path):
        out = real_list(spark_, path)
        monkeypatch.setattr(T, "_versions_with_marker", real_list)
        lay.write(spark, p, 2)
        monkeypatch.setattr(T, "_claim", claim_then_stop)
        return out

    monkeypatch.setattr(T, "_versions_with_marker", read_then_overtaken)
    with pytest.raises(T.ConcurrentMergeError, match="moved past t=1"):
        lay.write(spark, p, 1)
    monkeypatch.undo()
    assert renamed == []
    assert lay.versions(spark, p) == [1, 2]
    assert lay.read(spark, p) == lay.expected(2)
    assert not os.path.exists(f"{p}/t=3") and _stages(p) == []


def test_a_copy_rename_filesystem_gets_its_marker_after_the_copy(
    spark, tmp_path, monkeypatch
):
    """Where a rename is a file-by-file copy (an object store), the stage
    carries no _SUCCESS and the marker is created after the rename, so
    no reader sees a copy in progress as a version. A writer stopped
    between the two leaves a dead dir that the next write numbers past."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    monkeypatch.setattr(T, "_ATOMIC_RENAME_SCHEMES", ())
    real_claim, staged = T._claim, []

    def claim(spark_, path, stage, *a, **kw):
        staged.append(sorted(os.listdir(stage)))
        token = real_claim(spark_, path, stage, *a, **kw)
        if len(staged) == 1:
            raise Crash()
        return token

    monkeypatch.setattr(T, "_claim", claim)
    with pytest.raises(Crash):
        _upsert(spark, p, [(7, "stopped", 7.0)])
    assert "_SUCCESS" not in staged[0] and "_STATS.json" in staged[0]
    assert os.path.isdir(f"{p}/t=2")
    assert T.table_versions(spark, p) == [1]
    assert _texts(spark, p)[7] == "text-7"

    _upsert(spark, p, [(7, "w", 7.0)])
    monkeypatch.undo()
    assert "_SUCCESS" not in staged[1]
    assert T.table_versions(spark, p) == [1, 3]
    assert T.read_table_stats(spark, p)["rows"] == 200
    assert _texts(spark, p)[7] == "w"


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
    """The re-check after the rename: under keep=1 retention the
    contended version dir can be deleted before the straggler's rename —
    the rename then SUCCEEDS, and only the committed-version re-check
    stands between a stale snapshot and a silent lost update.

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


def _dead_dir(p, v, aged, junk):
    """A marker-less ``t={v}``: a stopped writer's or a legacy layout's."""
    d = os.path.join(p, f"t={v}")
    os.makedirs(d)
    if junk:
        with open(os.path.join(d, "part-junk.parquet"), "wb") as f:
            f.write(b"not a real parquet")
    if aged:
        _age(d)
    return d


@pytest.mark.parametrize("junk", [False, True], ids=["empty", "junk"])
@pytest.mark.parametrize("aged", [False, True], ids=["fresh", "aged"])
def test_dead_version_dir_never_blocks_a_write(spark, tmp_path, aged, junk):
    """A marker-less t=N+1, fresh or two days old, empty or holding a
    junk parquet file: publish_table and upsert_table number past it at
    once, no reader ever reads it, and retention deletes it once it
    falls below the kept floor."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    dead = _dead_dir(p, 2, aged, junk)

    T.publish_table(spark, p, _base(spark))
    assert T.table_versions(spark, p) == [1, 3]
    assert os.path.isdir(dead)  # not below the kept floor t=1 yet
    _upsert(spark, p, [(7, "w", 700.0)])
    got = _texts(spark, p)
    assert got[7] == "w" and got[9] == "text-9" and len(got) == 200
    assert T.table_versions(spark, p) == [3, 4]
    assert not os.path.exists(dead)


def test_dead_dirs_past_the_next_version_are_skipped(spark, tmp_path):
    """Dead dirs well past the newest commit are numbered over, then
    retained away like any version below the floor."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    dead = [_dead_dir(p, v, aged=False, junk=True) for v in (5, 9)]
    _upsert(spark, p, [(7, "w", 7.0)])
    assert T.table_versions(spark, p) == [1, 10]
    _upsert(spark, p, [(8, "w", 8.0)])
    assert T.table_versions(spark, p) == [10, 11]
    assert not any(os.path.exists(d) for d in dead)
    got = _texts(spark, p)
    assert got[7] == got[8] == "w" and len(got) == 200


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


class _Listings:
    """Counts listStatus/globStatus calls on every handle _hadoop_fs
    hands out."""

    def __init__(self, fs, counts):
        self._fs, self._counts = fs, counts

    def __getattr__(self, name):
        if name in ("listStatus", "globStatus"):
            self._counts[name] = self._counts.get(name, 0) + 1
        return getattr(self._fs, name)


def test_a_publish_lists_the_table_three_times(spark, tmp_path, monkeypatch):
    """A publish over an existing table lists it three times: the base
    version (a glob), the numbering listing — which also reaps stale
    stages and names the dirs retention deletes — and the re-check (a
    glob). One rename replacing the marker step added no listing."""
    p = str(tmp_path / "tbl")
    T.publish_table(spark, p, _base(spark))
    real, counts = T._hadoop_fs, {}

    def counted(spark_, path):
        fs, P = real(spark_, path)
        return _Listings(fs, counts), P

    monkeypatch.setattr(T, "_hadoop_fs", counted)
    for keep in (2, 2, None):
        counts.clear()
        T.publish_table(spark, p, _base(spark), keep=keep)
        assert counts == {"globStatus": 2, "listStatus": 1}, keep
    monkeypatch.undo()
    assert T.table_versions(spark, p) == [2, 3, 4]


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
