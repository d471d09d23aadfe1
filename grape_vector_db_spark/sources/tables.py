"""Table IO + batch CRUD surface (reference §2.1 S1-S12).

The reference's storage layer is a row-KV store with upsert/update/delete
by id (src/storage.rs:144-294). On Spark the table IS the store:

- scan (S1)            -> spark.read.parquet
- point lookup (S2)    -> WHERE id = x      (pushed to parquet row groups)
- paged listing (S3)   -> ORDER BY id LIMIT/OFFSET
- existence (S4)       -> semi-join / limit-1 count
- insert/batch (S5-S6) -> append write (a DataFrame write IS the batch op)
- update/upsert (S7)   -> merge_upsert below (anti-join + union rewrite —
                          the parquet-only MERGE; on Delta/Iceberg use the
                          native MERGE INTO instead)
- delete (S8-S9)       -> delete_where below (predicate anti-filter rewrite;
                          strictly more general than the reference, which
                          only supports id-equality filters)
- metadata update (S10)-> column-level merge in merge_upsert
- backup/restore (S12) -> snapshot write + read with sha2 checksum column

All writers partition by ``xxhash64(id) % n_buckets`` when asked — the
Spark analogue of the reference's consistent-hash shard ring
(src/distributed/shard.rs:166-369) — so co-located id joins don't shuffle.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql(...) works as the
    SQL frontend (the reference's WHERE-parser surface, P10, comes free)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def bucket_by_id(df: DataFrame, n_buckets: int, id_col: str = "id") -> DataFrame:
    """F14/§2.12: hash-partition by id — the Spark analogue of the
    reference's consistent-hash shard ring (src/distributed/shard.rs:166-369,
    DefaultHasher + avalanche mix). ``xxhash64`` plays the ring hash. NB
    the in-memory repartition alone does NOT make id-equi-joins
    shuffle-free (Catalyst cannot know ``bucket`` is a function of id) —
    it co-locates rows for bucket-keyed work and writes; for
    shuffle-free id joins use :func:`save_bucketed` (persistent
    ``bucketBy`` metadata). The synthetic ``bucket`` column stays in the
    schema deliberately (it IS the placement)."""
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")
    return df.withColumn("bucket", bucket).repartition(n_buckets, F.col("bucket"))


def rendezvous_shard(id_col, n_shards: int, seed: int = 0):
    """Rendezvous (highest-random-weight) shard assignment: shard =
    argmax over s in [0, n_shards) of h32(f"{seed}:{s}#" + id) — the
    OTHER classic consistent-placement scheme next to the hash ring that
    :func:`bucket_by_id` models (Thaler & Ravishankar 1998). Its defining
    property, which plain ``hash % n`` lacks: growing n_shards -> n+1
    moves ONLY the ~1/(n+1) of keys whose new shard wins the argmax —
    every other key keeps its placement, so a 100 TB re-shard rewrites
    one new shard's worth of data instead of (n-1)/n of the corpus.

    Pure narrow expression (n_shards hashes per row, no shuffle); ties
    broken toward the LOWEST shard index (array_position returns the
    first maximum). Returns an int column.
    """
    from ..functions.hashing import h32

    # null ids coalesce to a sentinel so every row gets a REAL shard —
    # a null score vector would propagate to a null placement and land
    # rows in a phantom bucket
    key = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00<null>"))
    scores = F.array(
        *[h32(F.concat(F.lit(f"{s}#"), key), seed=seed) for s in range(n_shards)]
    )
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def with_uuid_ids(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Fill empty/null ids with uuids (reference S5, src/storage.rs:145-149)."""
    return df.withColumn(
        id_col,
        F.when(
            F.col(id_col).isNull() | (F.col(id_col) == ""), F.expr("uuid()")
        ).otherwise(F.col(id_col)),
    )


def _dedup_updates(updates: DataFrame, id_col: str) -> DataFrame:
    """One row per update id, chosen deterministically (greatest by the
    remaining columns' struct order): a batch carrying the same id twice
    must not survive the merge as a duplicated id forever — and Delta's
    native MERGE would THROW on multiple matched source rows, so both
    formats pre-collapse the same way. The facade collapses each write
    batch by this rule once, so its index rows derive from exactly the
    row the merge keeps (not doubled term tf, not two IVF cells)."""
    from pyspark.sql import Window

    others = [c for c in updates.columns if c != id_col]
    if not others:
        return updates.dropDuplicates([id_col])
    w = Window.partitionBy(id_col).orderBy(
        *[F.col(c).desc_nulls_last() for c in others]
    )
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    id_col: str = "id",
    _pre_deduped: bool = False,
) -> DataFrame:
    """MERGE semantics on plain DataFrames: update wins per id, null update
    fields fall back to the existing row (reference update preserves unset
    fields, src/storage.rs:258-294). A column ABSENT from the update batch
    is treated as unset for every row — partial-schema updates (id + the
    changed fields) are the natural client shape and must never be an
    error. One shuffle on id; with both sides bucketed by id it's
    shuffle-free. Duplicate ids WITHIN the update batch collapse
    deterministically first (see :func:`_dedup_updates`; callers that
    already collapsed pass ``_pre_deduped=True`` to skip the redundant
    second window shuffle) — a full outer join would otherwise keep both
    and duplicate the id in the table permanently."""
    if not _pre_deduped:
        updates = _dedup_updates(updates, id_col)
    cols = existing.columns
    upd_cols = set(updates.columns)
    joined = existing.alias("old").join(
        updates.alias("new"), F.col(f"old.{id_col}") == F.col(f"new.{id_col}"), "full"
    )
    merged = joined.select(
        *[
            F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}")).alias(c)
            if c in upd_cols
            else F.col(f"old.{c}").alias(c)
            for c in cols
        ]
    )
    return merged


def delete_where(df: DataFrame, predicate: str) -> DataFrame:
    """DELETE FROM ... WHERE p — as the complement filter (S8/S9).

    SQL DELETE removes rows where p is TRUE; rows where p is NULL are
    KEPT. A bare NOT(p) filter would silently delete the NULL rows too
    (and diverge from the Delta path's native DELETE), so the complement
    coalesces NULL to false first."""
    return df.where(f"NOT coalesce(({predicate}), false)")


# -- optional Delta Lake table format ----------------------------------------
#
# The versioned-parquet swap below is atomic but rewrites the WHOLE table
# per merge — O(corpus) per micro-batch, which at 100 TB is the wrong
# shape. Delta's MERGE/DELETE rewrite only the touched files and give
# multi-writer commits, mapping the reference's sled transactions
# (src/advanced_storage.rs:177-191) to a lakehouse log. delta-spark is not
# in this container, so the format is a FLAG: parquet stays the default
# (byte-identical behavior), fmt="delta" routes through the native
# operations and raises a clear NotImplementedError where the package is
# absent. A Delta session also needs the extension configs — see
# delta_session_builder_configs().


def delta_available() -> bool:
    """True iff the delta-spark python package is importable (the JVM jars
    ride along with the pip package via configure_spark_with_delta_pip)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    return True


def delta_session_builder_configs() -> dict[str, str]:
    """The two session configs a Delta-capable SparkSession needs; apply
    them in get_spark (or spark-submit --conf) before first use."""
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    }


def _require_delta():
    if not delta_available():
        raise NotImplementedError(
            "fmt='delta' requires the delta-spark package (not in this "
            "container); parquet mode is the default and fully supported"
        )
    from delta.tables import DeltaTable

    return DeltaTable


def _check_format(spark: SparkSession, path: str, fmt: str) -> None:
    """Refuse silent format forks: writing fmt='parquet' onto a Delta
    root would raw-read its part files (including deleted versions) and
    publish a plain-parquet version beside an ignored delta log, while
    fmt='delta' onto an existing versioned/flat parquet table would seed
    a delta log containing ONLY the current batch, stranding the prior
    data outside the log. Both are detectable cheaply (_delta_log dir /
    table_exists probe) and both must be an error, not a data loss."""
    fs, p = _hadoop_fs(spark, path)
    has_log = bool(fs.exists(p(f"{path}/_delta_log")))
    if fmt == "parquet" and has_log:
        raise ValueError(
            f"{path} holds a Delta table (_delta_log present); pass "
            "fmt='delta' — parquet mode would fork the data outside the log"
        )
    if fmt == "delta" and not has_log and _existing_table(spark, path):
        raise ValueError(
            f"{path} holds a non-Delta table; migrate it explicitly "
            "(read + full delta write) before using fmt='delta' — a MERGE "
            "here would seed a delta log containing only the batch"
        )


def _existing_table(spark: SparkSession, path: str) -> bool:
    """:func:`table_exists` for a MERGE's first-write branch: a table of
    the removed bucket-manifest layout raises instead of reading as
    absent, where the batch alone would be published as the table."""
    if table_exists(spark, path):
        return True
    if bucket_manifest_dirs(spark, path):
        raise ValueError(_bucket_manifest_error(path))
    return False


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    id_col: str = "id",
    fmt: str = "parquet",
    keep: int = 2,
) -> None:
    """Table-level MERGE (S7): update wins per id, null update fields
    preserve the existing value — identical semantics in both formats.

    fmt="parquet": read + :func:`merge_upsert` + :func:`publish_table`
    (atomic versioned swap; O(table) rewrite per call).
    fmt="delta": native ``MERGE INTO`` — only files containing matched
    ids rewrite, the scale shape for frequent small merges.

    The parquet batch-only fallback is gated on an EXPLICIT existence
    probe: a try/except around the read would also swallow a transient
    filesystem error and publish the batch alone as the table (GC then
    deletes the corpus); with the probe the error propagates."""
    if fmt == "parquet":
        _check_format(spark, path, fmt)
        if _existing_table(spark, path):
            merged = merge_upsert(read_table(spark, path), updates, id_col=id_col)
        else:
            merged = updates
        publish_table(spark, path, merged, keep=keep)
        return
    if fmt != "delta":
        raise ValueError(f"fmt must be 'parquet' or 'delta', got {fmt!r}")
    DeltaTable = _require_delta()
    _check_format(spark, path, fmt)
    if not DeltaTable.isDeltaTable(spark, path):
        updates.write.format("delta").mode("overwrite").save(path)
        return
    dt = DeltaTable.forPath(spark, path)
    cols = dt.toDF().columns
    upd = _dedup_updates(updates, id_col)
    # format parity with the parquet path's merge_upsert on
    # PARTIAL-SCHEMA batches (id + changed fields — the natural client
    # shape the docstrings promise is never an error):
    # - the update set touches only columns the SOURCE carries
    #   (referencing s.`c` for an absent column is an AnalysisException
    #   at merge resolution);
    # - inserts spell every target column explicitly, NULL where the
    #   source lacks it (whenNotMatchedInsertAll fails the same way);
    # - extra update columns absent from the target are dropped, the
    #   parquet path's target-schema projection.
    upd_cols = set(upd.columns)
    (
        dt.alias("t")
        .merge(upd.alias("s"), f"t.`{id_col}` = s.`{id_col}`")
        .whenMatchedUpdate(
            set={
                c: F.coalesce(F.col(f"s.`{c}`"), F.col(f"t.`{c}`"))
                for c in cols
                if c in upd_cols
            }
        )
        .whenNotMatchedInsert(
            values={
                c: (F.col(f"s.`{c}`") if c in upd_cols else F.lit(None))
                for c in cols
            }
        )
        .execute()
    )


def delete_table_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    fmt: str = "parquet",
    keep: int = 2,
) -> None:
    """Table-level DELETE WHERE (S8/S9). parquet: complement-filter +
    versioned swap; delta: native file-pruning DELETE."""
    if fmt == "parquet":
        _check_format(spark, path, fmt)
        publish_table(
            spark, path, delete_where(read_table(spark, path), predicate), keep=keep
        )
        return
    if fmt != "delta":
        raise ValueError(f"fmt must be 'parquet' or 'delta', got {fmt!r}")
    DeltaTable = _require_delta()
    _check_format(spark, path, fmt)
    DeltaTable.forPath(spark, path).delete(predicate)


def exists(df: DataFrame, id_value, id_col: str = "id") -> bool:
    return df.where(F.col(id_col) == id_value).limit(1).count() > 0


# -- versioned table layout (staged, single-winner commit) -------------------
#
# Every mutating write publishes a NEW directory {path}/t={N+1} through
# one commit (:func:`_commit`): ONE rename of a writer-private stage
# holding the files, the sidecar (a table's _STATS.json, a catalog's
# _CATALOG.json) and the _SUCCESS marker. A version is visible iff its
# marker exists, so readers see the old or the new version, never a
# partial one. Numbering skips every marker-less t=N dir on disk, so a
# dir a stopped writer left is never waited on. Writers that read the
# same t=N race to ONE winner, each loser raising ConcurrentMergeError
# having published nothing (the reference's two-tree sled transaction,
# src/advanced_storage.rs:145-191). The last ``keep`` versions survive
# GC for in-flight readers. Filesystem ops go through the Hadoop
# FileSystem API (HDFS/object stores; on the latter the rename is a
# copy, so _SUCCESS follows it, and it is no CAS: one writer a table).

_SUCCESS = "_SUCCESS"

# schemes whose directory rename is atomic; elsewhere it is a copy
_ATOMIC_RENAME_SCHEMES = ("file", "hdfs")

# a stage older than this cannot belong to a live writer (a stage lives
# for one Spark write)
_STALE_CLAIM_MS = 24 * 3600 * 1000


class ConcurrentMergeError(RuntimeError):
    """Another writer claimed or committed the version this write was
    built for; it was aborted WITHOUT publishing — re-read and retry (the
    sled transaction conflict, ref:src/advanced_storage.rs:177-191)."""


_FS_CACHE: dict = {}


def _hadoop_fs(spark: SparkSession, path: str):
    """FileSystem handle + Path class for ``path``, cached per (session,
    scheme, authority). Hadoop's FileSystem.get already caches JVM-side,
    but each lookup here cost 3 py4j round trips and this helper runs
    dozens of times per query plan; the py4j proxies are stable for a
    (scheme, authority), so cache them. Hadoop binds FileSystem
    instances per (scheme, AUTHORITY) — two buckets / two namenodes on
    one scheme need distinct handles, so the authority is part of the
    key. The session keys on applicationId (stable, never recycled),
    not id(), so a restarted gateway + reused proxy id can never serve
    a dead handle."""
    scheme, _, rest = path.partition("://")
    if rest:
        authority = rest.split("/", 1)[0]
    else:
        scheme, authority = "", ""
    # applicationId is itself one py4j trip — memoize it on the python
    # SparkContext object (dies with it; a restarted session fetches its
    # own) so the cache hit path stays at zero round trips
    sc = spark.sparkContext
    app_id = getattr(sc, "_gvdb_app_id", None)
    if app_id is None:
        app_id = sc.applicationId
        sc._gvdb_app_id = app_id
    key = (app_id, scheme, authority)
    hit = _FS_CACHE.get(key)
    if hit is not None:
        return hit
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    fs = path_cls(path).getFileSystem(conf)
    _FS_CACHE[key] = (fs, path_cls)
    return fs, path_cls


def _write_control(spark: SparkSession, file_path: str, body: dict) -> None:
    """Write a small JSON control file (a backup manifest) in place
    by temp write + rename, so a reader never sees a torn file. A failed
    rename raises: a manifest that did not land is no commit."""
    fs, P = _hadoop_fs(spark, file_path)
    parent, name = file_path.rsplit("/", 1)
    tmp, final = P(f"{parent}/.{name}.tmp"), P(file_path)
    _put_json(fs, tmp, body)
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"rename of {name} failed under {parent}")


def _put_json(fs, p, body: dict) -> None:
    """Write ``body`` as JSON to Hadoop path ``p``; aggregate scalars
    JSON lacks (Decimal, numpy) become numbers."""
    text = json.dumps(body, sort_keys=True, default=_json_number)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _json_number(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return float(v)


def _read_control(spark: SparkSession, file_path: str) -> dict | None:
    """The JSON body of a small control file, None when it does not
    exist. Read JVM-side: py4j passes byte[] by VALUE, so a python-side
    read(buf) loop would never see the bytes."""
    from py4j.protocol import Py4JJavaError

    fs, P = _hadoop_fs(spark, file_path)
    try:
        stream = fs.open(P(file_path))
    except Py4JJavaError as e:
        name = e.java_exception.getClass().getName()
        if name == "java.io.FileNotFoundException":
            return None
        raise
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def _commit(
    spark: SparkSession, path: str, base: int, stage_write, keep: int | None
) -> int:
    """Publish the next version of the table at ``path`` over version
    ``base`` (0: none) and return its number — the one commit protocol
    of every versioned writer:

    1. :func:`_reap_abandoned` lists ``path``; a version committed above
       ``base`` aborts this stale write before it renames anything, and
       the version is numbered past the dead dirs above ``base``;
    2. ``stage_write(stage)`` writes the version's files, sidecar and
       ``_SUCCESS`` into a writer-unique dot-dir and returns the entries
       that must arrive with the claim;
    3. :func:`_claim` renames the stage onto ``t={nxt}``: the commit;
    4. one listing right after the rename re-checks that the only
       committed version above ``base`` is ours, else we delete ours
       and raise: a slot retention freed under newer commits, or a gap
       (a commit between our listing and rename). A writer building on
       ours needs a Spark write first, which outlasts one listing;
    5. the token is deleted; with ``keep``, retention deletes the
       step-1 dirs below the ``keep`` newest commits, dead ones too.

    Nothing is created after the rename: a writer stopped at any step
    leaves no version or a whole one. Only where the rename is a copy
    does ``_SUCCESS`` follow it, so no reader sees a partial copy."""
    fs, P = _hadoop_fs(spark, path)
    listed = _reap_abandoned(spark, path)
    if any(v > base and fs.exists(P(f"{path}/t={v}/{_SUCCESS}")) for v in listed):
        raise ConcurrentMergeError(f"{path} moved past t={base}; re-read and retry")
    nxt = max(listed, default=0) + 1
    stage = f"{path}/.stage-t{nxt}-{uuid.uuid4().hex[:8]}"
    copy = fs.getScheme() not in _ATOMIC_RENAME_SCHEMES
    try:
        parts = stage_write(stage)
        if copy:
            fs.delete(P(f"{stage}/{_SUCCESS}"), False)
            parts.remove(_SUCCESS)
    except Exception:
        fs.delete(P(stage), True)
        raise
    token = _claim(spark, path, stage, nxt, parts)
    target = f"{path}/t={nxt}"
    try:
        if copy:
            fs.create(P(f"{target}/{_SUCCESS}"), True).close()
        committed = _versions_with_marker(spark, path)
        newer = [v for v in committed if v > base]
        if newer != [nxt]:
            raise ConcurrentMergeError(
                f"versions {newer} committed under {path} while this write "
                f"(based on t={base}) was in flight; re-read and retry"
            )
    except Exception:
        _drop(fs, P, target)
        raise
    fs.delete(P(f"{target}/{token}"), False)
    if keep is not None:
        _retain_versions(spark, path, committed[-max(keep, 1):], listed)
    return nxt


def _drop(fs, P, vdir: str) -> None:
    """Delete our version dir, marker first, so no reader sees it torn."""
    fs.delete(P(f"{vdir}/{_SUCCESS}"), False)
    fs.delete(P(vdir), True)


def _claim(
    spark: SparkSession,
    path: str,
    stage: str,
    nxt: int,
    parts: list[str],
) -> str:
    """CAS-claim ``t={nxt}`` by renaming the complete ``stage`` onto it
    (the one claim rename of this module, and the commit point) and
    return the ownership token it carries; raise
    :class:`ConcurrentMergeError` when another writer holds the version.

    Ownership is POSITIVE: we own ``t={nxt}`` iff the writer-unique
    token that rode in our stage sits directly under it (HDFS refuses
    an existing destination, posix renames INTO it). A stage deleted out
    of band makes the token create re-make an EMPTY stage, so every
    entry of ``parts`` (``_SUCCESS`` among them) must arrive with the
    claim too."""
    fs, P = _hadoop_fs(spark, path)
    stage_name = stage.rsplit("/", 1)[1]
    token = f"._CLAIM-{stage_name[len('.stage-'):]}"
    fs.create(P(f"{stage}/{token}"), True).close()
    vdir = f"{path}/t={nxt}"
    fs.rename(P(stage), P(vdir))
    claimed = fs.exists(P(f"{vdir}/{token}"))
    if claimed and not all(fs.exists(P(f"{vdir}/{p}")) for p in parts):
        _drop(fs, P, vdir)  # ours by token; bogus — remove it
        claimed = False
    if not claimed:
        # posix rename-into: our stage may have landed NESTED inside
        # another writer's t={nxt}; remove only our own artifacts
        fs.delete(P(f"{vdir}/{stage_name}"), True)
        fs.delete(P(stage), True)
        raise ConcurrentMergeError(
            f"version t={nxt} under {path} was claimed by a concurrent "
            "writer; re-read and retry"
        )
    return token


def _reap_abandoned(spark: SparkSession, path: str) -> list[int]:
    """Every ``t=N`` dir under ``path``, committed or not, from ONE
    listing that also deletes crashed writers' stage dot-dirs older than
    ``_STALE_CLAIM_MS`` (the age keeps a live writer's safe). A stopped
    writer leaves nothing else to reap: its version dir is committed,
    or a dead dir that numbering skips and retention deletes."""
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        return []  # a first publish
    cutoff_ms = int(time.time() * 1000) - _STALE_CLAIM_MS
    out = []
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if _is_version_dir_name(name):
            out.append(int(name[2:]))
        elif name.startswith(".stage-t") and st.getModificationTime() < cutoff_ms:
            fs.delete(st.getPath(), True)
    return out


_GLOB_SPECIALS = set("*?[]{}\\")


def _versions_with_marker(spark: SparkSession, path: str) -> list[int]:
    """t=N version dirs under ``path`` whose ``_SUCCESS`` marker exists
    — the ONE t=N scan behind every listing.

    Resolved with a single ``globStatus`` on the marker files: the old
    listStatus + one exists() per t= dir was 2+N py4j/filesystem round
    trips, and this listing runs on every versioned read — at query
    rate (and against an object store at 100 TB, where each round trip
    is a metadata request) its constant is hot-path cost. Paths
    containing glob metacharacters fall back to the exact loop."""
    fs, P = _hadoop_fs(spark, path)
    if not any(c in _GLOB_SPECIALS for c in path):
        stats = fs.globStatus(P(f"{path}/t=*/{_SUCCESS}")) or []
        names = [st.getPath().getParent().getName() for st in stats]
        return sorted(int(n[2:]) for n in names if _is_version_dir_name(n))
    if not fs.exists(P(path)):
        return []
    return sorted(
        int(st.getPath().getName()[2:])
        for st in fs.listStatus(P(path))
        if st.isDirectory()
        and _is_version_dir_name(st.getPath().getName())
        and fs.exists(P(st.getPath(), _SUCCESS))
    )


def table_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed (i.e. _SUCCESS-marked) version numbers under ``path``."""
    return _versions_with_marker(spark, path)


def current_table_path(spark: SparkSession, path: str) -> str:
    """Current committed version dir; legacy flat tables (no t=N yet,
    e.g. user-created parquet) resolve to the table root. If a stopped
    FIRST publish left a dead t=N beside legacy root files, the root
    resolves to a ``*.parquet`` glob so partition discovery never mixes
    the two depths (the next publish numbers past the dead dir and its
    retention deletes it)."""
    vs = table_versions(spark, path)
    if vs:
        return f"{path}/t={vs[-1]}"
    fs, P = _hadoop_fs(spark, path)
    if fs.exists(P(path)) and any(
        st.isDirectory() and st.getPath().getName().startswith("t=")
        for st in fs.listStatus(P(path))
    ):
        return f"{path}/*.parquet"
    return path


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(current_table_path(spark, path))


def read_table_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Time-travel read of a specific committed version — the audit /
    rollback companion to the versioned-swap publish (combine with
    :func:`snapshot_diff` to see exactly what a publish changed). Only
    versions still inside the publish retention (``keep``) are readable;
    raises ValueError naming the available versions otherwise."""
    vs = table_versions(spark, path)
    if version not in vs:
        raise ValueError(
            f"version {version} not committed under {path}; available: {vs}"
        )
    return spark.read.parquet(f"{path}/t={version}")


def table_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``read_table`` would find a committed version or a legacy
    flat table root. An explicit probe, NOT try/except around the read:
    callers that fall back to "table absent" behavior must never take that
    branch on a transient filesystem error (which should propagate and
    fail/retry the caller instead — see upsert_table)."""
    if table_versions(spark, path):
        return True
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        return False
    # a bare directory (pre-created by tooling, or holding only a crashed
    # writer's uncommitted t=N) is NOT a table — saying yes would route
    # callers into a failing read instead of the first-write branch
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            return True
        if (
            st.isDirectory()
            and "=" in name
            and not _is_version_dir_name(name)
        ):
            # legacy HIVE-PARTITIONED parquet at the root (col=val
            # subdirs, no root-level data files — the standard Spark
            # partitioned layout): read_table resolves and reads it
            # fine, so answering "absent" here would route upsert_table
            # into its first-write branch and silently DISCARD the
            # whole existing corpus (and let _check_format miss the
            # delta-fork it guards against)
            return True
    return False


def _is_version_dir_name(name: str) -> bool:
    """t=<int> — this layout's own version dirs, never a user partition
    (a genuine partition column named ``t`` with integer values would
    collide; the versioned layout owns the t= namespace by contract)."""
    if not name.startswith("t="):
        return False
    try:
        int(name[2:])
        return True
    except ValueError:
        return False


_STATS_FILE = "_STATS.json"

# Spark's own _SUCCESS, written into the stage, is the commit marker:
# it is asked for even where a session turns it off
_MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def read_table_stats(
    spark: SparkSession, path: str, version: int | None = None
) -> dict | None:
    """Publish-time statistics of a committed version (newest by
    default): at least ``rows``, plus whatever ``stats_exprs`` the
    publisher recorded (e.g. a graph index's ``max_rank``). Returns None
    for legacy versions published before stats existed — callers MUST
    fall back to counting. This is the planner's zero-job input: row
    counts, nlist, and graph degree are knowable at write time, so
    ``db.search()`` never pays a corpus-scale count just to pick a
    route (VERDICT r7 #1). An explicit ``version`` is read directly,
    without listing the table."""
    if version is None:
        vs = table_versions(spark, path)
        if not vs:
            return None
        version = vs[-1]
    return _read_control(spark, f"{path}/t={version}/{_STATS_FILE}")


def publish_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    keep: int | None = 2,
    partition_by: list[str] | None = None,
    stats_exprs: dict[str, str] | None = None,
    extra_stats: dict | None = None,
) -> int:
    """Atomically publish ``df`` as the table's next version (one write,
    committed by :func:`_commit`: single winner among racing writers).
    ``partition_by`` preserves a partitioned layout (e.g. IVF inverted
    lists partitioned by cluster) inside the version directory, so
    partition pruning keeps working across swaps.

    Every publish records a ``_STATS.json`` sidecar with the version's
    row count — observed on the WRITE job itself (``df.observe``), so
    stats cost zero extra scans even at 100 TB. ``stats_exprs`` adds
    named aggregate SQL expressions (e.g. ``{"max_rank": "max(rank)"}``)
    to the same observation; ``extra_stats`` adds caller-known plain
    values (e.g. an IVF layout's ``replicas``). Returns the committed
    version; ``keep=None`` leaves retention to the caller (the facade's
    catalog, which knows which versions are still referenced)."""
    from pyspark.sql import Observation

    vs = table_versions(spark, path)
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        F.expr(e).alias(name) for name, e in (stats_exprs or {}).items()
    ]
    w = df.observe(obs, *aggs).write.option(_MARK_SUCCESS, "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    fs, P = _hadoop_fs(spark, path)

    def stage(dest: str):
        w.parquet(dest)
        # schema rides along so readers can skip the footer-inference job
        # entirely (spark.read.schema(...) — zero jobs before the first
        # action); the underscore keeps the sidecar out of Spark's
        # listing, and the private stage makes a direct write enough
        _put_json(
            fs,
            P(f"{dest}/{_STATS_FILE}"),
            {**obs.get, **(extra_stats or {}), "schema": df.schema.json()},
        )
        return [_STATS_FILE, _SUCCESS]

    nxt = _commit(spark, path, vs[-1] if vs else 0, stage, keep)
    if not vs:
        # Migrated a legacy flat table: its root-level DATA files are now
        # shadowed by t=1 — remove them so a raw reader of the table root
        # can't pick up the stale copy (or double-read via partition
        # discovery). Only parquet parts and their write markers are
        # removed (user-placed files at the root survive). Caveat: a
        # reader that pinned the flat root BEFORE this first migration can
        # fail mid-scan — the versioned guarantee starts at t=1; migrate
        # quiet tables, or pre-publish before opening them to readers.
        for st in fs.listStatus(P(path)):
            name = st.getPath().getName()
            if st.isFile() and (
                name.startswith("part-")
                or name.startswith("_SUCCESS")
                or name.startswith("_committed")
                or name.startswith("_started")
                or name.endswith(".crc")
            ):
                fs.delete(st.getPath(), False)
    return nxt


@contextmanager
def materialized(df: DataFrame):
    """Evaluate ``df`` ONCE into executor storage and hand out that copy;
    its blocks are released when the block exits, on success or error.
    An eager localCheckpoint, not a lazy persist: the first consumer may
    read only part of a lazy cache (a limit(1) probe), and the cut
    lineage keeps every consumer's plan a plain scan of the stored rows.
    The write paths' one materialization mechanism: the facade's upsert
    batches, stream micro-batches and doomed id sets, and the posting
    tables whose sidecar stats and write both read the same rows."""
    cp = df.localCheckpoint(eager=True)
    try:
        yield cp
    finally:
        # the checkpoint's blocks live under the RDD its LogicalRDD
        # wraps; the DataFrame API has no release for them
        cp._jdf.queryExecution().logical().rdd().unpersist(False)


def _detect_partition_cols(spark: SparkSession, path: str) -> list[str]:
    """Partition columns of the current version, read off the directory
    layout (``col=value`` chain)."""
    fs, P = _hadoop_fs(spark, path)
    cols: list[str] = []
    cur_str = current_table_path(spark, path)
    if "*" in cur_str:
        # legacy flat root beside a crashed writer's uncommitted t=N:
        # the resolved path is a *.parquet glob selecting root FILES
        # only — no partition dirs by construction, and listStatus
        # treats a glob as a literal name (FileNotFoundException)
        return cols
    cur = P(cur_str)
    while True:
        sub = [
            st.getPath()
            for st in fs.listStatus(cur)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not sub:
            return cols
        cols.append(sub[0].getName().split("=", 1)[0])
        cur = sub[0]


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int,
    partition_by: list[str] | None = None,
) -> None:
    """Small-file compaction: publish a repartitioned new version
    (streaming upserts accumulate small files; at 100 TB scale run this
    per-partition or use the table format's OPTIMIZE). Atomic versioned
    swap, single write. The existing partition layout is DETECTED from
    the directory structure and preserved (pass ``partition_by`` to
    override) — compaction must never silently flatten the IVF
    inverted-list layout partition pruning depends on."""
    if partition_by is None:
        partition_by = _detect_partition_cols(spark, path)
    publish_table(
        spark,
        path,
        read_table(spark, path).repartition(target_partitions),
        partition_by=partition_by or None,
    )


def backup(df: DataFrame, path: str, id_col: str = "id") -> None:
    """Snapshot with a per-row sha256 checksum column (reference S12 writes
    a SHA-256 over the backup payload, src/storage.rs:569-576)."""
    chk = df.withColumn(
        "_sha256", F.sha2(F.to_json(F.struct(*[F.col(c) for c in df.columns])), 256)
    )
    chk.write.mode("overwrite").parquet(path)


def restore(spark: SparkSession, path: str) -> DataFrame:
    """Read a snapshot back, verifying the checksum column; raises on
    corruption (reference verifies before reload, src/storage.rs:609-621)."""
    df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c != "_sha256"]
    bad = df.where(
        F.sha2(F.to_json(F.struct(*[F.col(c) for c in data_cols])), 256)
        != F.col("_sha256")
    ).limit(1)
    if bad.count() > 0:
        raise ValueError(f"backup checksum mismatch under {path}")
    return df.select(*data_cols)


# ---------------------------------------------------------------------------
# persistent bucketed tables — the exchange-free co-located join


def save_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int,
    key_col: str,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) external parquet
    table. Every later equi-join or aggregation keyed on ``key_col``
    between tables sharing (n_buckets, key) reads co-located buckets and
    skips the shuffle Exchange entirely — the persistent analogue of the
    reference's consistent-hash shard ring, and THE way to amortize one
    shuffle across every downstream run at 100 TB. With ``sort`` the
    sort-merge join also skips its per-task Sort.
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, key_col)
    )
    if sort:
        w = w.sortBy(key_col)
    w.saveAsTable(table_name)


def drop_bucketed(spark: SparkSession, table_name: str) -> None:
    """Drop the catalog entry (external data files are left in place)."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")


def _retain_versions(
    spark: SparkSession, path: str, live: list[int], listed: list[int] | None = None
) -> None:
    """Retention: every version dir below the oldest ``live`` one is
    deleted, committed or dead. Versions at or above it are live or a
    writer in flight builds on them. ``listed``: the commit's own
    listing of ``path``, reused."""
    fs, P = _hadoop_fs(spark, path)
    if listed is None:
        listed = _reap_abandoned(spark, path)
    for v in listed:
        if v < min(live):
            fs.delete(P(f"{path}/t={v}"), True)


# -- catalog: one commit pins several tables ----------------------------------
#
# Tables that are read together (the facade's documents, embeddings and
# indexes; the centroid/assignment pair of an IVF index; the
# codebook/code pair of a PQ index) are pinned by one more versioned
# file, {root}/_catalog/t={M}/_CATALOG.json, mapping each table (a path
# under root) to its committed version and layout. A writer that read
# catalog M publishes its table versions with keep=None, then commits
# the next catalog through _commit with M as its base; no catalog reader
# sees those versions before that. A writer stopped before the catalog
# rename leaves catalog M whole (its table versions are never named and
# retention deletes them); one stopped after it has committed. Of two
# writers that read catalog M one commits and the other raises
# ConcurrentMergeError (the reference's multi-tree sled transaction,
# ref:src/advanced_storage.rs:177-191). Retention follows the catalogs:
# a table version stays while one of the two newest catalogs names it.

_CATALOG = "_CATALOG.json"


@dataclass
class Catalog:
    """One catalog version (0: derived for tables without one): each
    table's committed ``(version, layout)``, the layout being ``plain``
    or ``flat`` (a legacy table root, version 0). A table of the removed
    bucket-manifest layout (a catalog written before its removal, or a
    version-0 table holding its versions) says ``bucketed``;
    :func:`_entry_dir` refuses such an entry."""

    version: int
    tables: dict[str, tuple[int, str]]


def read_catalog(
    spark: SparkSession, root: str, tables: tuple[str, ...]
) -> Catalog:
    """The newest catalog under ``root``: one listing of
    ``{root}/_catalog`` and one small read. Without a catalog, version
    0: each of ``tables`` at its newest committed version, else a legacy
    flat table root; absent tables are left out."""
    path = f"{root}/_catalog"
    while vs := table_versions(spark, path):
        body = _read_control(spark, f"{path}/t={vs[-1]}/{_CATALOG}")
        # None: two newer commits reaped it between listing and read
        if body is not None:
            return Catalog(
                vs[-1], {t: tuple(e) for t, e in body["tables"].items()}
            )
    out = {}
    for table in tables:
        p = f"{root}/{table}"
        if vs := table_versions(spark, p):
            out[table] = (vs[-1], "plain")
        elif table_exists(spark, p):
            out[table] = (0, "flat")
        elif bucket_manifest_dirs(spark, p):
            out[table] = (0, "bucketed")  # raises at its first read
    return Catalog(0, out)


def commit_catalog(
    spark: SparkSession,
    root: str,
    base: Catalog,
    tables: dict[str, tuple[int, str]],
) -> None:
    """Commit ``tables`` as the next catalog over ``base``, the catalog
    the writer read (nothing when they equal the base's; a lost race
    raises ConcurrentMergeError), then keep, of every table it moved
    and of the catalog itself, only the versions the two newest
    catalogs reference (and newer ones: writers in flight)."""
    if tables == base.tables:
        return
    path = f"{root}/_catalog"
    fs, P = _hadoop_fs(spark, path)

    def stage(dest: str):
        # the writer-private stage makes direct writes enough (the
        # publish_table sidecar rule); _claim checks both arrived
        _put_json(fs, P(f"{dest}/{_CATALOG}"), {"tables": tables})
        fs.create(P(f"{dest}/{_SUCCESS}"), True).close()
        return [_CATALOG, _SUCCESS]

    _commit(spark, path, base.version, stage, keep=2)
    for table, entry in tables.items():
        old = base.tables.get(table)
        if old != entry:
            live = [entry[0]] if old is None else [old[0], entry[0]]
            _retain_versions(spark, f"{root}/{table}", live)


def _entry_dir(spark: SparkSession, path: str, entry: tuple[int, str]) -> str:
    """The directory of the table at ``path`` that a plain or flat
    catalog ``entry`` names. Any other layout is a ``bucketed`` entry of
    a DB indexed with ``build_index(kind, n_buckets=...)``: one version
    dir of it holds only the buckets its write touched, so it raises
    instead of reading a part of the table."""
    v, layout = entry
    if layout == "flat":
        return current_table_path(spark, path)
    if layout != "plain":
        raise ValueError(_bucket_manifest_error(path))
    return f"{path}/t={v}"


# the commit marker of the removed bucket-manifest layout's version dirs
_BUCKET_MANIFEST = "_MANIFEST.json"


def _bucket_manifest_error(path: str) -> str:
    return (
        f"{path} holds the removed bucket-manifest layout; rebuild it with "
        "build_index(kind) ('binary' for index_packed, 'sq' for index_sq), "
        "which publishes the plain layout"
    )


def bucket_manifest_dirs(spark: SparkSession, path: str) -> list[str]:
    """The ``t=N`` dirs under ``path`` committed by the removed
    bucket-manifest layout (they hold ``_MANIFEST.json``, never
    ``_SUCCESS``). Such a table is neither absent nor readable: callers
    that take "absent" for a first write raise instead. Probed only
    where no committed version was found, so plain reads never pay it."""
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        return []
    return [
        str(st.getPath())
        for st in fs.listStatus(P(path))
        if st.isDirectory()
        and _is_version_dir_name(st.getPath().getName())
        and fs.exists(P(st.getPath(), _BUCKET_MANIFEST))
    ]


def _sidecar_schema(stats: dict | None):
    """The read schema a publish recorded in its ``_STATS.json`` (None
    for a legacy version or a malformed sidecar): handed to
    ``spark.read.schema``, it skips the footer-inference job."""
    if stats is None or not stats.get("schema"):
        return None
    from pyspark.sql.types import StructType

    try:
        return StructType.fromJson(json.loads(stats["schema"]))
    except Exception:
        return None


# ---------------------------------------------------------------------------
# multi-format IO (sinks beyond parquet)

_TEXT_OPTS = {
    # documents carry embedded newlines/quotes — CSV needs full quoting
    "csv": {"header": "true", "quote": '"', "escape": '"', "multiLine": "true"},
}


def write_format(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    """Write ``df`` at ``path`` as parquet/orc/json/csv. Parquet/ORC are
    the only formats that carry types + pushdown at scale; JSON/CSV exist
    for interchange and are written with the options that survive
    embedded newlines."""
    opts = {**_TEXT_OPTS.get(fmt, {}), **options}
    df.write.mode("overwrite").format(fmt).options(**opts).save(path)


def read_format(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options):
    """Read ``path`` in ``fmt``; pass ``schema`` for the schemaless text
    formats (CSV/JSON infer types lossily — BIGINT vs INT, timestamps as
    strings — so production readers must pin the schema)."""
    opts = {**_TEXT_OPTS.get(fmt, {}), **options}
    r = spark.read.format(fmt).options(**opts)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Row-level diff between two table snapshots: (id, status) with
    status in {added, deleted, changed, unchanged} — the audit surface
    for versioned publishes (what did this batch actually do?) and the
    input to incremental index refresh (only 'added'/'changed' rows need
    re-embedding).

    Full outer join on the id key (co-partitioned — one shuffle each
    side, or zero against bucketed tables); change detection compares
    columns directly, null-safely, so no row-serialization format needs
    to match across engines.
    """
    # diff over the UNION of both schemas: a column added by the new
    # snapshot (schema evolution) must count as a change, and a dropped
    # column must not crash the select — absent side reads as null
    data_cols = [c for c in old.columns if c != id_col] + [
        c for c in new.columns if c != id_col and c not in old.columns
    ]

    def side(df: DataFrame, flag: str, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.lit(True).alias(flag),
            *[
                (
                    F.col(c) if c in df.columns else F.lit(None)
                ).alias(f"{prefix}{c}")
                for c in data_cols
            ],
        )

    # presence flags come from a per-side sentinel computed before the
    # join, not value nullness (a legitimately all-null row still exists)
    o = side(old, "_in_old", "_o_")
    n = side(new, "_in_new", "_n_")
    joined = o.join(n, "_id", "full_outer")
    # id-only tables degrade to a membership diff (nothing can 'change')
    changed = F.lit(False)
    for c in data_cols:
        neq = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        changed = changed | neq
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("deleted"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(F.col("_id").alias(id_col), status.alias("status"))
