"""Bucket-manifest tables: file-granular MERGE on plain parquet.

The contract under test (sources/tables.py bucket-manifest section,
mapping ref:src/advanced_storage.rs:145-191): a merge rewrites ONLY the
buckets containing touched ids — every part file of every untouched
bucket is byte-identical after the merge (same path, same bytes) — while
row semantics stay exactly merge_upsert's (update wins per id, null
update fields preserve existing, duplicate update ids pre-collapse).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.sources import tables as T


def _part_file_hashes(root: str) -> dict[str, str]:
    """{relative path: md5 of bytes} for every parquet part file."""
    out = {}
    for p in glob.glob(f"{root}/**/*.parquet", recursive=True):
        with open(p, "rb") as f:
            out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return out


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="gvdb_bmerge_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _base(spark):
    return spark.createDataFrame(
        [(i, f"text-{i}", float(i)) for i in range(200)],
        "id long, text string, score double",
    )


@pytest.fixture(params=["bucketed", "plain"])
def layout(request):
    """Both table layouts commit through the same staged CAS claim, so
    the crash and race tests run against each: the bucket-manifest table
    (create / merge / read through the manifest) and the plain versioned
    table (publish / upsert_table / read_table)."""
    from types import SimpleNamespace

    if request.param == "bucketed":
        return SimpleNamespace(
            create=lambda spark, p, df: T.write_table_bucketed(
                spark, p, df, n_buckets=4
            ),
            merge=lambda spark, p, upd: T.merge_upsert_bucketed(
                spark, p, upd, id_col="id"
            ),
            read=T.read_table_bucketed,
            versions=T._bucketed_versions,
        )
    return SimpleNamespace(
        create=T.publish_table,
        merge=lambda spark, p, upd: T.upsert_table(spark, p, upd, id_col="id"),
        read=T.read_table,
        versions=T.table_versions,
    )


def test_roundtrip_and_schema(spark, tdir):
    df = _base(spark)
    T.write_table_bucketed(spark, tdir, df, n_buckets=8)
    got = T.read_table_bucketed(spark, tdir)
    # data columns survive; the placement column rides along as data
    assert set(got.columns) == {"id", "text", "score", "bucket"}
    rows = {r["id"]: (r["text"], r["score"]) for r in got.collect()}
    assert rows == {i: (f"text-{i}", float(i)) for i in range(200)}
    # placement column matches the documented hash
    bad = got.where(
        F.col("bucket") != F.pmod(F.xxhash64(F.col("id")), F.lit(8)).cast("int")
    ).count()
    assert bad == 0


def test_bucket_reads_take_the_manifest_schema(spark, tdir, monkeypatch):
    """Reads and the touched-bucket reads of merges and deletes hand the
    manifest's recorded schema to the reader (no footer inference) and
    return the same rows and schema as an inferring read; a legacy
    manifest without a schema still infers."""
    from pyspark.sql import DataFrameReader
    from pyspark.sql.types import StructType

    T.write_table_bucketed(spark, tdir, _base(spark), n_buckets=4)
    recorded = StructType.fromJson(
        T._read_manifest(spark, tdir, T._bucketed_versions(spark, tdir)[-1])[
            "schema"
        ]
    )
    handed = []
    orig = DataFrameReader.schema

    def spy(self, schema):
        handed.append(schema)
        return orig(self, schema)

    def inferred():
        man = T._read_manifest(
            spark, tdir, T._bucketed_versions(spark, tdir)[-1]
        )
        return spark.read.parquet(
            *[f"{tdir}/t={v}/b={k}" for k, v in sorted(man["buckets"].items())]
        )

    def same_as_inferred(df):
        want = inferred()
        assert df.schema == want.schema
        assert sorted(df.collect()) == sorted(want.collect())
        return {r["id"]: r["text"] for r in df.collect()}

    monkeypatch.setattr(DataFrameReader, "schema", spy)
    rows = same_as_inferred(T.read_table_bucketed(spark, tdir))
    assert rows == {i: f"text-{i}" for i in range(200)}
    upd = spark.createDataFrame(
        [(i, f"new-{i}", None) for i in (3, 7, 250)],
        "id long, text string, score double",
    )
    T.merge_upsert_bucketed(spark, tdir, upd)
    T.delete_ids_bucketed(
        spark, tdir, spark.createDataFrame([(5,), (7,)], "id long")
    )
    rows = same_as_inferred(T.read_table_bucketed(spark, tdir))
    want = {i: f"text-{i}" for i in range(200) if i not in (5, 7)}
    assert rows == {**want, 3: "new-3", 250: "new-250"}
    # read, merge's bucket read, delete's bucket read, read
    assert handed == [recorded] * 4

    v = T._bucketed_versions(spark, tdir)[-1]
    man = T._read_manifest(spark, tdir, v)
    del man["schema"]
    T._write_control(spark, f"{tdir}/t={v}/{T._MANIFEST}", man)
    handed.clear()
    assert same_as_inferred(T.read_table_bucketed(spark, tdir)) == rows
    assert handed == []


def test_merge_semantics_match_merge_upsert(spark, tdir):
    df = _base(spark)
    T.write_table_bucketed(spark, tdir, df, n_buckets=8)
    updates = spark.createDataFrame(
        # id 3: update wins; null text must PRESERVE existing text;
        # id 1000: brand-new insert; id 7 twice: dedup collapses
        [(3, None, 99.0), (1000, "new", 1.0), (7, "a", 1.0), (7, "b", 2.0)],
        "id long, text string, score double",
    )
    T.merge_upsert_bucketed(spark, tdir, updates)
    got = {r["id"]: (r["text"], r["score"]) for r in
           T.read_table_bucketed(spark, tdir).collect()}
    assert got[3] == ("text-3", 99.0)  # null update field fell back
    assert got[1000] == ("new", 1.0)
    assert got[7] == ("b", 2.0)  # greatest-struct dedup, one survivor
    assert got[5] == ("text-5", 5.0)  # untouched row intact
    assert len(got) == 201


def test_untouched_bucket_files_byte_identical(spark, tdir):
    """THE scale property: a merge touching ids in a few buckets leaves
    every other bucket's part files byte-for-byte identical (not
    re-written, not copied — the same files, still referenced)."""
    df = _base(spark)
    T.write_table_bucketed(spark, tdir, df, n_buckets=8)
    before = _part_file_hashes(tdir)

    upd = spark.createDataFrame([(3, "patched", -1.0)],
                                "id long, text string, score double")
    touched_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(3).cast("long")), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    T.merge_upsert_bucketed(spark, tdir, upd)

    after = _part_file_hashes(tdir)
    untouched_before = {
        p: h for p, h in before.items() if f"{os.sep}b={touched_bucket}{os.sep}" not in p
    }
    # every untouched part file still exists with identical bytes
    for p, h in untouched_before.items():
        assert after.get(p) == h, f"untouched file {p} changed or vanished"
    # the touched bucket was rewritten into the NEW version dir only
    new_files = set(after) - set(before)
    assert new_files and all(f"b={touched_bucket}" in p for p in new_files)
    # and the merged table reads correctly across version dirs
    got = {r["id"]: r["text"] for r in T.read_table_bucketed(spark, tdir).collect()}
    assert got[3] == "patched" and got[4] == "text-4" and len(got) == 200


def test_gc_keeps_referenced_buckets_drops_expired(spark, tdir):
    df = _base(spark)
    T.write_table_bucketed(spark, tdir, df, n_buckets=4, keep=2)
    for step in range(3):  # three merges -> versions 2,3,4
        upd = spark.createDataFrame(
            [(step, f"merge-{step}", float(step))],
            "id long, text string, score double",
        )
        T.merge_upsert_bucketed(spark, tdir, upd, keep=2)
    vs = T._bucketed_versions(spark, tdir)
    assert vs == [3, 4]  # only the last keep=2 manifests remain committed
    # expired versions' dirs survive ONLY where still referenced
    man = {int(k): v for k, v in
           T._read_manifest(spark, tdir, vs[-1])["buckets"].items()}
    for k, owner in man.items():
        assert os.path.isdir(f"{tdir}/t={owner}/b={k}")
    # table content reflects all three merges
    got = {r["id"]: r["text"] for r in T.read_table_bucketed(spark, tdir).collect()}
    assert [got[i] for i in range(3)] == ["merge-0", "merge-1", "merge-2"]
    assert got[50] == "text-50" and len(got) == 200
    # time travel to the previous surviving version still works
    prev = {r["id"]: r["text"]
            for r in T.read_table_bucketed(spark, tdir, version=3).collect()}
    assert prev[2] == "text-2" and prev[1] == "merge-1"


def test_upsert_table_routes_bucketed_layout(spark, tdir):
    df = _base(spark)
    T.write_table_bucketed(spark, tdir, df, n_buckets=4)
    before = _part_file_hashes(tdir)
    upd = spark.createDataFrame([(9, "via-facade", 0.0)],
                                "id long, text string, score double")
    T.upsert_table(spark, tdir, upd)  # fmt defaults to parquet
    after = _part_file_hashes(tdir)
    # facade took the bucket-scoped path: at least one original file is
    # untouched (a versioned-swap rewrite would replace them all)
    assert any(after.get(p) == h for p, h in before.items())
    got = {r["id"]: r["text"] for r in T.read_table_bucketed(spark, tdir).collect()}
    assert got[9] == "via-facade" and len(got) == 200


def test_swap_api_refuses_bucketed_root(spark, tdir):
    T.write_table_bucketed(spark, tdir, _base(spark), n_buckets=4)
    with pytest.raises(ValueError, match="bucket-manifest"):
        T.read_table(spark, tdir)
    with pytest.raises(ValueError, match="bucket-manifest"):
        T.publish_table(spark, tdir, _base(spark))


def test_merge_requires_existing_table_and_matching_id(spark, tdir):
    upd = spark.createDataFrame([(1, "x", 0.0)],
                                "id long, text string, score double")
    with pytest.raises(ValueError, match="no bucket-manifest table"):
        T.merge_upsert_bucketed(spark, tdir, upd)
    T.write_table_bucketed(spark, tdir, _base(spark), n_buckets=4, id_col="id")
    with pytest.raises(ValueError, match="bucketed by"):
        T.merge_upsert_bucketed(spark, tdir, upd, id_col="text")


def test_concurrent_merge_loser_aborts_cleanly(spark, tdir, monkeypatch, layout):
    """Two merges that both read version t=1: the winner commits t=2;
    the loser must raise ConcurrentMergeError WITHOUT publishing — no
    silent clobber (both would write the same t=2, the second
    overwriting the first's manifest or data files).

    Interleaving is forced deterministically: the loser's claim first
    runs the winner's ENTIRE merge, then proceeds."""
    layout.create(spark, tdir, _base(spark))

    winner_upd = spark.createDataFrame(
        [(7, "winner-7", 700.0)], "id long, text string, score double"
    )
    loser_upd = spark.createDataFrame(
        [(7, "loser-7", 777.0), (9, "loser-9", 999.0)],
        "id long, text string, score double",
    )

    real_claim = T._claim
    state = {"fired": False}

    def interleaved(*a, **kw):
        if not state["fired"]:
            state["fired"] = True
            layout.merge(spark, tdir, winner_upd)
        return real_claim(*a, **kw)

    monkeypatch.setattr(T, "_claim", interleaved)
    with pytest.raises(T.ConcurrentMergeError):
        layout.merge(spark, tdir, loser_upd)
    monkeypatch.setattr(T, "_claim", real_claim)

    # winner's merge survives intact; loser published NOTHING
    got = {
        r["id"]: (r["text"], r["score"])
        for r in layout.read(spark, tdir).collect()
    }
    assert got[7] == ("winner-7", 700.0)
    assert got[9] == ("text-9", 9.0)
    assert len(got) == 200
    # no stage or unclaimed version dirs pollute the table root
    assert not [
        d for d in os.listdir(tdir) if d.startswith(".stage-t")
    ]
    assert layout.versions(spark, tdir) == [1, 2]


def test_concurrent_merge_stale_snapshot_detected_after_gc(spark, tdir, monkeypatch):
    """CAS commit point 2: under keep=1 retention, the contended version
    directory can be GC'd before the straggler's rename — the rename then
    SUCCEEDS, and only the committed-version re-check stands between a
    stale snapshot and a silent lost-update publish."""
    # the straggler must update an id whose BUCKET holds no existing dir,
    # so its merge plan never reads version-1 files (the competing keep=1
    # merges below delete version 1 entirely): carve bucket space so the
    # base table leaves one bucket empty and the straggler id lands there
    placements = {
        r["id"]: r["b"]
        for r in spark.range(1000)
        .select("id", T._bucket_expr("id", 8).alias("b"))
        .collect()
    }
    straggler_id = 999
    free_bucket = placements[straggler_id]
    base_ids = [i for i in range(999) if placements[i] != free_bucket][:200]
    base = spark.createDataFrame(
        [(i, f"text-{i}", float(i)) for i in base_ids],
        "id long, text string, score double",
    )
    T.write_table_bucketed(spark, tdir, base, n_buckets=8)
    all_ids = spark.createDataFrame(
        [(i, f"w2-{i}", float(i) * 2) for i in base_ids],
        "id long, text string, score double",
    )
    all_ids3 = all_ids.withColumn("text", F.concat(F.lit("w3-"), F.col("id")))

    straggler = spark.createDataFrame(
        [(straggler_id, "stale", -1.0)], "id long, text string, score double"
    )

    real_write = T._write_bucket_dirs
    state = {"fired": False}

    def interleaved(df, id_col, n_buckets, dest):
        if not state["fired"]:
            state["fired"] = True
            # two full-table merges at keep=1: commit t=2 then t=3; t=2's
            # dirs become fully unreferenced and are GC'd
            T.merge_upsert_bucketed(spark, tdir, all_ids, id_col="id", keep=1)
            T.merge_upsert_bucketed(spark, tdir, all_ids3, id_col="id", keep=1)
            assert not os.path.isdir(os.path.join(tdir, "t=2"))
        return real_write(df, id_col, n_buckets, dest)

    monkeypatch.setattr(T, "_write_bucket_dirs", interleaved)
    with pytest.raises(T.ConcurrentMergeError):
        T.merge_upsert_bucketed(spark, tdir, straggler, id_col="id")
    monkeypatch.setattr(T, "_write_bucket_dirs", real_write)

    got = {r["id"]: r["text"] for r in T.read_table_bucketed(spark, tdir).collect()}
    assert len(got) == 200 and straggler_id not in got
    assert got[base_ids[0]] == f"w3-{base_ids[0]}"
    assert T._bucketed_versions(spark, tdir) == [3]
    # the straggler's claimed-then-aborted t=2 dir was removed
    assert not os.path.isdir(os.path.join(tdir, "t=2"))


def test_gc_reaps_only_stale_merge_stages(spark, tdir, layout):
    """Abandoned stage dot-dirs (crashed writers) are reaped by GC once
    older than a day; fresh stages (a possibly in-flight merge) survive,
    and neither is ever visible to readers."""
    layout.create(spark, tdir, _base(spark))
    stale = os.path.join(tdir, ".stage-t2-deadbeef")
    fresh = os.path.join(tdir, ".stage-t2-cafecafe")
    os.makedirs(stale)
    os.makedirs(fresh)
    two_days_ago = time.time() - 2 * 24 * 3600
    os.utime(stale, (two_days_ago, two_days_ago))

    upd = spark.createDataFrame(
        [(7, "w", 7.0)], "id long, text string, score double"
    )
    layout.merge(spark, tdir, upd)
    assert not os.path.isdir(stale), "stale stage must be reaped"
    assert os.path.isdir(fresh), "fresh stage may belong to a live merge"
    # stages never count as versions
    assert layout.versions(spark, tdir) == [1, 2]


def test_crashed_claim_is_adopted_by_next_merge(spark, tdir, layout):
    """A writer that died between the CAS claim rename and the marker
    write leaves an uncommitted t=N+1 dir. Merges must ADOPT (delete and
    re-claim) it once it is older than the stale-claim cutoff — GC alone
    cannot help, because GC only runs after a successful merge, so the
    corpse would otherwise mean permanent ConcurrentMergeError for the
    table (ADVICE r7 medium)."""
    layout.create(spark, tdir, _base(spark))
    corpse = os.path.join(tdir, "t=2")
    os.makedirs(os.path.join(corpse, "b=0"))
    with open(os.path.join(corpse, "b=0", "part-junk.parquet"), "wb") as f:
        f.write(b"not a real parquet")
    old = time.time() - 2 * 24 * 3600
    os.utime(os.path.join(corpse, "b=0"), (old, old))
    os.utime(corpse, (old, old))

    upd = spark.createDataFrame(
        [(7, "revived", 700.0)], "id long, text string, score double"
    )
    layout.merge(spark, tdir, upd)
    got = {r["id"]: r["text"] for r in layout.read(spark, tdir).collect()}
    assert got[7] == "revived" and len(got) == 200
    assert layout.versions(spark, tdir) == [1, 2]
    # the corpse's junk did not leak into the adopted version
    assert not os.path.exists(os.path.join(corpse, "b=0", "part-junk.parquet"))


def test_fresh_uncommitted_claim_still_loses(spark, tdir, layout):
    """A RECENT marker-less t=N+1 may belong to a live writer between
    its claim and its marker commit — a merge must NOT adopt it."""
    layout.create(spark, tdir, _base(spark))
    os.makedirs(os.path.join(tdir, "t=2", "b=0"))
    upd = spark.createDataFrame(
        [(7, "late", 700.0)], "id long, text string, score double"
    )
    with pytest.raises(T.ConcurrentMergeError):
        layout.merge(spark, tdir, upd)


def test_gc_reaps_stale_crashed_claims(spark, tdir, layout):
    """Defense in depth: GC (which runs after every successful merge)
    also reaps marker-less t=* dirs older than the cutoff, even ones
    beyond the next contended version."""
    layout.create(spark, tdir, _base(spark))
    corpse = os.path.join(tdir, "t=9")
    os.makedirs(corpse)
    old = time.time() - 2 * 24 * 3600
    os.utime(corpse, (old, old))
    upd = spark.createDataFrame(
        [(7, "w", 7.0)], "id long, text string, score double"
    )
    layout.merge(spark, tdir, upd)
    assert not os.path.isdir(corpse)
    assert layout.versions(spark, tdir) == [1, 2]


def test_out_of_band_stage_deletion_cannot_misclaim(spark, tdir, monkeypatch):
    """ADVICE r7 low: ownership is verified POSITIVELY via a writer-unique
    token file, not inferred from the stage's absence. If the stage is
    deleted out-of-band (another writer's GC reaping a >24h stage), the
    rename fails, the token never lands under t=N+1, and the merge must
    abort — NOT commit a manifest referencing bucket dirs that do not
    exist."""
    T.write_table_bucketed(spark, tdir, _base(spark), n_buckets=4)

    real_write = T._write_bucket_dirs

    def write_then_lose_stage(df, id_col, n_buckets, dest):
        real_write(df, id_col, n_buckets, dest)
        shutil.rmtree(dest)  # simulates a concurrent GC reap

    monkeypatch.setattr(T, "_write_bucket_dirs", write_then_lose_stage)
    upd = spark.createDataFrame(
        [(7, "ghost", 700.0)], "id long, text string, score double"
    )
    with pytest.raises(T.ConcurrentMergeError):
        T.merge_upsert_bucketed(spark, tdir, upd, id_col="id")
    monkeypatch.setattr(T, "_write_bucket_dirs", real_write)

    # nothing published; table intact and still mergeable
    assert T._bucketed_versions(spark, tdir) == [1]
    got = {r["id"]: r["text"] for r in T.read_table_bucketed(spark, tdir).collect()}
    assert got[7] == "text-7"


def test_retry_merge_absorbs_concurrent_winner(spark, tdir, monkeypatch):
    """VERDICT r7 #2: the retry wrapper re-derives the loser's merge
    against the winner's committed snapshot — BOTH updates land, no
    ConcurrentMergeError escapes."""
    T.write_table_bucketed(spark, tdir, _base(spark), n_buckets=4)

    winner_upd = spark.createDataFrame(
        [(7, "winner-7", 700.0)], "id long, text string, score double"
    )
    loser_upd = spark.createDataFrame(
        [(9, "loser-9", 999.0)], "id long, text string, score double"
    )

    real_write = T._write_bucket_dirs
    state = {"fired": False}

    def interleaved(df, id_col, n_buckets, dest):
        if not state["fired"]:
            state["fired"] = True
            T.merge_upsert_bucketed(spark, tdir, winner_upd, id_col="id")
        return real_write(df, id_col, n_buckets, dest)

    monkeypatch.setattr(T, "_write_bucket_dirs", interleaved)
    T.merge_upsert_bucketed_retry(spark, tdir, loser_upd, id_col="id")
    monkeypatch.setattr(T, "_write_bucket_dirs", real_write)

    got = {
        r["id"]: (r["text"], r["score"])
        for r in T.read_table_bucketed(spark, tdir).collect()
    }
    assert got[7] == ("winner-7", 700.0), "winner's update survives"
    assert got[9] == ("loser-9", 999.0), "retried loser's update lands too"
    assert len(got) == 200
    assert T._bucketed_versions(spark, tdir) == [2, 3]


def test_retry_merge_bounded_attempts(spark, tdir, monkeypatch):
    """Pathological contention surfaces after the attempt budget instead
    of looping forever."""
    T.write_table_bucketed(spark, tdir, _base(spark), n_buckets=4)
    calls = {"n": 0}

    def always_lose(*a, **kw):
        calls["n"] += 1
        raise T.ConcurrentMergeError("contended")

    monkeypatch.setattr(T, "merge_upsert_bucketed", always_lose)
    upd = spark.createDataFrame(
        [(7, "x", 1.0)], "id long, text string, score double"
    )
    with pytest.raises(T.ConcurrentMergeError):
        T.merge_upsert_bucketed_retry(spark, tdir, upd, id_col="id", attempts=3)
    assert calls["n"] == 3


def test_facade_merge_routes_bucketed_tables_with_retry(spark, docs, tdir, monkeypatch):
    """A facade whose documents table uses the bucket-manifest layout
    must (a) read through the manifest — the raw versioned read would
    silently drop untouched buckets — and (b) absorb a concurrent
    winner inside add_documents."""
    from grape_vector_db_spark.db import GrapeVectorDB

    db = GrapeVectorDB(spark, tdir)
    T.write_table_bucketed(
        spark, db._path("documents"), docs, n_buckets=4, id_col="doc_id"
    )
    n0 = docs.count()
    assert db.documents().count() == n0

    upd = spark.createDataFrame(
        [(2, "facade-updated"), (10**6, "facade-new")], "doc_id long, text string"
    )
    winner_upd = spark.createDataFrame(
        [(5, "winner-5")], "doc_id long, text string"
    )
    real_write = T._write_bucket_dirs
    state = {"fired": False}

    def interleaved(df, id_col, n_buckets, dest):
        if not state["fired"]:
            state["fired"] = True
            T.merge_upsert_bucketed(
                spark, db._path("documents"), winner_upd, id_col="doc_id"
            )
        return real_write(df, id_col, n_buckets, dest)

    monkeypatch.setattr(T, "_write_bucket_dirs", interleaved)
    db.add_documents(upd)
    monkeypatch.setattr(T, "_write_bucket_dirs", real_write)

    got = {r["doc_id"]: r["text"] for r in db.documents().collect()}
    assert got[2] == "facade-updated"
    assert got[10**6] == "facade-new"
    assert got[5] == "winner-5"
    assert len(got) == n0 + 1
    # update preserved unset fields (merge semantics, not replace)
    row = db.documents().where("doc_id = 2").head()
    assert row["lang"] is not None
