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
    if fmt == "delta" and not has_log and table_exists(spark, path):
        raise ValueError(
            f"{path} holds a non-Delta table; migrate it explicitly "
            "(read + full delta write) before using fmt='delta' — a MERGE "
            "here would seed a delta log containing only the batch"
        )


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
    (atomic versioned swap; O(table) rewrite per call) — UNLESS the path
    holds a bucket-manifest table (:func:`write_table_bucketed`), which
    routes to the bucket-scoped MERGE that rewrites only touched buckets.
    fmt="delta": native ``MERGE INTO`` — only files containing matched
    ids rewrite, the scale shape for frequent small merges.

    The parquet batch-only fallback is gated on an EXPLICIT existence
    probe: a try/except around the read would also swallow a transient
    filesystem error and publish the batch alone as the table (GC then
    deletes the corpus); with the probe the error propagates."""
    if fmt == "parquet":
        _check_format(spark, path, fmt)
        if _bucketed_versions(spark, path):
            merge_upsert_bucketed(spark, path, updates, id_col=id_col, keep=keep)
            return
        if table_exists(spark, path):
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
# Every mutating write, in either layout, publishes a NEW directory
# {path}/t={N+1} through one commit (:func:`_commit`): stage, CAS-claim,
# re-check, then the layout's marker (_SUCCESS beside a plain table's
# staged _STATS.json, or the bucket manifest). A version is visible iff
# its marker exists, so readers see the old or the new version, never a
# partial one or one without its stats; writers that read the same t=N
# race to ONE winner, each loser raising ConcurrentMergeError having
# published nothing (the reference's two-tree sled transaction,
# src/advanced_storage.rs:145-191). The last ``keep`` versions survive GC
# for in-flight readers. Filesystem ops go through the Hadoop FileSystem
# API (HDFS/object stores; on the latter the staged rename is a copy).

_SUCCESS = "_SUCCESS"

# a staged or claimed artifact older than this without a marker cannot
# belong to a live writer (a claim->commit window is seconds)
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
    """Write a small JSON control file (bucket / index / backup manifest)
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


def _commit(spark: SparkSession, path: str, nxt: int, stage_write, marker: str) -> None:
    """Publish version ``t={nxt}`` of the table at ``path`` — the one
    commit protocol of every versioned writer:

    1. ``stage_write(stage)`` writes the version's files into a
       writer-unique dot-dir and returns ``(parts, body)``: the entries
       that must arrive with the claim, and the ``marker``'s JSON body
       (None: an empty marker, whose create lands it whole);
    2. :func:`_claim` renames the stage onto ``t={nxt}``;
    3. a committed version at or past ``nxt`` means a stale snapshot
       (retention can GC the contended dir before our rename, so the
       rename alone would succeed): abort;
    4. the marker is written — the commit point.

    A failure after the claim releases it, so the next writer can take
    the version at once; a killed writer's claim is adopted once stale."""
    fs, P = _hadoop_fs(spark, path)
    stage = f"{path}/.stage-t{nxt}-{uuid.uuid4().hex[:8]}"
    try:
        parts, body = stage_write(stage)
    except Exception:
        fs.delete(P(stage), True)
        raise
    token = _claim(spark, path, stage, nxt, marker, parts)
    target = f"{path}/t={nxt}"
    try:
        latest = _versions_with_marker(spark, path, marker)
        if latest and latest[-1] >= nxt:
            raise ConcurrentMergeError(
                f"version t={latest[-1]} committed under {path} while this "
                f"write (based on t={nxt - 1}) was in flight; re-read and retry"
            )
        if body is None:
            fs.create(P(f"{target}/{marker}"), True).close()
        else:
            _write_control(spark, f"{target}/{marker}", body)
    except Exception:
        if not fs.exists(P(f"{target}/{marker}")):
            fs.delete(P(target), True)  # ours by token, never committed
        raise
    fs.delete(P(f"{target}/{token}"), False)


def _claim(
    spark: SparkSession,
    path: str,
    stage: str,
    nxt: int,
    marker: str,
    parts: list[str],
) -> str:
    """CAS-claim ``t={nxt}`` by renaming ``stage`` onto it (the one claim
    rename of this module) and return the ownership token the claim
    holds until its marker lands; raise :class:`ConcurrentMergeError`
    when another writer holds the version.

    Ownership is POSITIVE: we own ``t={nxt}`` iff the writer-unique
    token that rode in our stage sits directly under it (HDFS refuses
    an existing destination, posix renames INTO it). A stage deleted out
    of band makes the token create re-make an EMPTY stage, so every
    entry of ``parts`` must arrive with the claim too.

    A marker-less ``t={nxt}`` that is EMPTY (a live claim always holds
    its token) or older than ``_STALE_CLAIM_MS`` is a crashed writer's
    claim that can never commit: it is adopted (deleted, then claimed),
    or every later writer would find it and raise forever."""
    fs, P = _hadoop_fs(spark, path)
    stage_name = stage.rsplit("/", 1)[1]
    token = f"._CLAIM-{stage_name[len('.stage-'):]}"
    fs.create(P(f"{stage}/{token}"), True).close()
    vdir = f"{path}/t={nxt}"
    target = P(vdir)
    taken = fs.exists(target)
    if taken and not fs.exists(P(f"{vdir}/{marker}")):
        cutoff_ms = int(time.time() * 1000) - _STALE_CLAIM_MS
        if (
            fs.getFileStatus(target).getModificationTime() < cutoff_ms
            or not fs.listStatus(target)
        ):
            fs.delete(target, True)
            taken = False
    if not taken:
        fs.rename(P(stage), target)
    claimed = fs.exists(P(f"{vdir}/{token}"))
    if claimed and not all(fs.exists(P(f"{vdir}/{p}")) for p in parts):
        fs.delete(target, True)  # ours by token; bogus — remove it
        claimed = False
    if not claimed:
        # posix rename-into: our stage may have landed NESTED inside
        # another writer's t={nxt}; remove only our own artifacts
        fs.delete(P(f"{vdir}/{stage_name}"), True)
        fs.delete(P(stage), True)
        raise ConcurrentMergeError(
            f"version t={nxt} under {path} was claimed by a concurrent "
            f"writer (this write read t={nxt - 1}); re-read and retry"
        )
    return token


def _reap_abandoned(spark: SparkSession, path: str, newest: int, marker: str) -> None:
    """Both layouts' GC of crashed writers' leftovers: stage dot-dirs,
    and claims past the ``newest`` commit without a ``marker``, once
    older than ``_STALE_CLAIM_MS`` (the age keeps a live writer's safe)."""
    fs, P = _hadoop_fs(spark, path)
    cutoff_ms = int(time.time() * 1000) - _STALE_CLAIM_MS
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        stage = name.startswith(".stage-t")
        claim = _is_version_dir_name(name) and int(name[2:]) > newest
        if (
            (stage or claim)
            and st.getModificationTime() < cutoff_ms
            and (stage or not fs.exists(P(st.getPath(), marker)))
        ):
            fs.delete(st.getPath(), True)


_GLOB_SPECIALS = set("*?[]{}\\")


def _versions_with_marker(
    spark: SparkSession, path: str, marker: str
) -> list[int]:
    """t=N version dirs under ``path`` whose ``marker`` file exists —
    the ONE t=N scan behind both layouts' listings (plain: _SUCCESS;
    bucket-manifest: the manifest rename is the commit point).

    Resolved with a single ``globStatus`` on the marker files: the old
    listStatus + one exists() per t= dir was 2+N py4j/filesystem round
    trips, and this listing runs on every versioned read — at query
    rate (and against an object store at 100 TB, where each round trip
    is a metadata request) its constant is hot-path cost. Paths
    containing glob metacharacters fall back to the exact loop."""
    fs, P = _hadoop_fs(spark, path)
    if not any(c in _GLOB_SPECIALS for c in path):
        stats = fs.globStatus(P(f"{path}/t=*/{marker}")) or []
        names = [st.getPath().getParent().getName() for st in stats]
        return sorted(int(n[2:]) for n in names if _is_version_dir_name(n))
    if not fs.exists(P(path)):
        return []
    return sorted(
        int(st.getPath().getName()[2:])
        for st in fs.listStatus(P(path))
        if st.isDirectory()
        and _is_version_dir_name(st.getPath().getName())
        and fs.exists(P(st.getPath(), marker))
    )


def table_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed (i.e. _SUCCESS-marked) version numbers under ``path``."""
    return _versions_with_marker(spark, path, _SUCCESS)


def current_table_path(spark: SparkSession, path: str) -> str:
    """Current committed version dir; legacy flat tables (no t=N yet,
    e.g. user-created parquet) resolve to the table root. If a crashed
    FIRST publish left an uncommitted t=N beside legacy root files, the
    root resolves to a ``*.parquet`` glob so partition discovery never
    mixes the two depths (the next publish adopts the crashed claim, see
    :func:`_claim`)."""
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
    if _bucketed_versions(spark, path):
        # a bucket-manifest version dir holds only the buckets touched by
        # its merge — reading it raw would silently drop every other row
        raise ValueError(
            f"{path} holds a bucket-manifest table; use read_table_bucketed"
        )
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

# staged writes leave _SUCCESS out: the stage is renamed into place
# before the commit re-check, so Spark's own marker would publish early
_NO_SUCCESS_FILE = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


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
    if _bucketed_versions(spark, path):
        raise ValueError(
            f"{path} holds a bucket-manifest table; use "
            "merge_upsert_bucketed / write_table_bucketed"
        )
    from pyspark.sql import Observation

    vs = table_versions(spark, path)
    nxt = (vs[-1] if vs else 0) + 1
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        F.expr(e).alias(name) for name, e in (stats_exprs or {}).items()
    ]
    w = df.observe(obs, *aggs).write.option(_NO_SUCCESS_FILE, "false")
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
        return [_STATS_FILE], None

    _commit(spark, path, nxt, stage, _SUCCESS)
    _reap_abandoned(spark, path, nxt, _SUCCESS)
    if keep is not None:
        for old in vs[: -(keep - 1)] if keep > 1 else vs:
            fs.delete(P(f"{path}/t={old}"), True)
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


# ---------------------------------------------------------------------------
# bucket-manifest tables — file-granular MERGE on plain parquet
#
# The versioned-swap layout above rewrites O(table) per merge; Delta's
# native MERGE is file-granular but delta-spark may be absent. This layout
# makes the parquet path sub-O(table): data lives in per-bucket directories
# {path}/t={N}/b={K} (bucket K = pmod(xxhash64(id), n_buckets), the same
# placement hash as :func:`bucket_by_id`), and each version's
# ``_MANIFEST.json`` maps every bucket to the VERSION DIRECTORY that owns
# its current files. A merge rewrites ONLY the buckets containing touched
# ids into t={N+1} and re-points just those manifest entries — untouched
# bucket files are not read, copied, or rewritten (byte-identical across
# the merge), so merge cost is O(touched buckets), not O(table). The
# manifest (≤ n_buckets small entries) is this layout's marker in the
# shared commit protocol (:func:`_commit`): creates, merges and deletes
# stage their bucket dirs, claim t={N+1}, and commit by writing the
# manifest, so readers resolving the newest manifest see the old or the
# new table, never a half-merge, and concurrent writers race to one
# winner. Maps the reference's two-tree transactional storage intent
# (ref:src/advanced_storage.rs:145-191) onto plain parquet.

_MANIFEST = "_MANIFEST.json"


def _bucketed_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed version numbers: a version exists iff its manifest does
    (the manifest write is this layout's commit point)."""
    return _versions_with_marker(spark, path, _MANIFEST)


def _read_manifest(spark: SparkSession, path: str, version: int) -> dict:
    return _read_control(spark, f"{path}/t={version}/{_MANIFEST}")


def _bucket_dirs_in(spark: SparkSession, version_dir: str) -> list[int]:
    fs, P = _hadoop_fs(spark, version_dir)
    out = []
    for st in fs.listStatus(P(version_dir)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("b="):
            out.append(int(name[2:]))
    return sorted(out)


def _bucket_expr(id_col: str, n_buckets: int):
    """The placement hash — MUST stay identical to :func:`bucket_by_id`
    so in-memory bucketing and the persistent layout agree."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


def _write_bucket_dirs(df: DataFrame, id_col: str, n_buckets: int, dest: str) -> None:
    """One job: rows gain their bucket as BOTH a data column (``bucket``,
    so reads of leaf dirs keep it without partition inference) and a
    partition directory (``b=K``). ``dest`` is a commit stage."""
    (
        df.withColumn("bucket", _bucket_expr(id_col, n_buckets))
        .withColumn("b", F.col("bucket"))
        .repartition(n_buckets, F.col("bucket"))
        .write.option(_NO_SUCCESS_FILE, "false")
        .partitionBy("b")
        .parquet(dest)
    )


def write_table_bucketed(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    n_buckets: int,
    id_col: str = "id",
    keep: int | None = 2,
) -> int:
    """Create (or fully replace) a bucket-manifest table from ``df``;
    returns the committed version.

    A path holding a PLAIN versioned table migrates in place: the new
    bucketed version numbers past BOTH layouts' committed versions
    (numbering off the bucketed listing alone would compute an nxt that
    OVERWRITES a committed plain t=N — the detectable-fork data loss
    _check_format exists to prevent), and the bucketed GC leaves
    _SUCCESS-committed flat dirs untouched (see _bucketed_gc)."""
    if "bucket" in df.columns:
        df = df.drop("bucket")
    vs = _bucketed_versions(spark, path)
    plain = table_versions(spark, path)
    nxt = max(vs[-1] if vs else 0, plain[-1] if plain else 0) + 1

    def stage(dest: str):
        _write_bucket_dirs(df, id_col, n_buckets, dest)
        ks = _bucket_dirs_in(spark, dest)
        return [f"b={k}" for k in ks], {
            "n_buckets": n_buckets,
            "id_col": id_col,
            "buckets": {str(k): nxt for k in ks},
            "schema": _bucketed_read_schema(df),
        }

    _commit(spark, path, nxt, stage, _MANIFEST)
    _bucketed_gc(spark, path, keep)
    return nxt


def _bucketed_read_schema(df: DataFrame) -> dict:
    """JSON schema of what read_table_bucketed returns for this data:
    the data columns plus the ``bucket`` placement column the leaf files
    carry. Recorded in the manifest so a FULLY-EMPTIED table (every
    bucket deleted) still reads back as an empty DataFrame with the real
    schema instead of a single NullType id column."""
    import json

    from pyspark.sql.types import IntegerType, StructField, StructType

    fields = [f for f in df.schema.fields if f.name != "bucket"]
    full = StructType(fields + [StructField("bucket", IntegerType(), True)])
    return json.loads(full.json())


def read_table_bucketed(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Resolve the manifest (newest committed version by default; an
    explicit ``version`` is read without listing) and read exactly the
    bucket directories it references — leaf dirs are passed explicitly,
    so no partition inference runs and the data column ``bucket``
    carries placement."""
    if version is None:
        vs = _bucketed_versions(spark, path)
        if not vs:
            raise ValueError(f"no committed bucket-manifest table under {path}")
        version = vs[-1]
    man = _read_manifest(spark, path, version)
    if man is None:
        raise ValueError(f"version {version} not committed under {path}")
    if not man["buckets"]:
        if man.get("schema"):
            # fully-emptied table: an empty frame with the REAL schema
            # (recorded at write time), so downstream column selects
            # and unions keep resolving
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], StructType.fromJson(man["schema"])
            )
        # legacy manifest without a recorded schema
        return spark.range(0).select(F.lit(None).alias(man["id_col"]))
    return _read_buckets(spark, path, man, sorted(man["buckets"]))


def _read_buckets(
    spark: SparkSession, path: str, man: dict, keys: list
) -> DataFrame:
    """Read the bucket dirs ``keys`` as manifest ``man`` maps them. The
    manifest's recorded read schema is handed to the reader, so no
    footer inference runs; a legacy manifest without one infers it."""
    dirs = [f"{path}/t={man['buckets'][str(k)]}/b={k}" for k in keys]
    reader = spark.read
    if man.get("schema"):
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(man["schema"]))
    return reader.parquet(*dirs)


def _bucketed_head(
    spark: SparkSession, path: str, id_col: str, version: int | None
):
    """``(base manifest, n_buckets, next version)`` of the bucket-manifest
    table a merge or delete builds on: committed ``version`` (the newest
    by default); raises when there is none or it is bucketed by another
    column. The next version is the newest committed one + 1."""
    vs = _bucketed_versions(spark, path)
    if not vs:
        raise ValueError(
            f"no bucket-manifest table under {path}; create with "
            "write_table_bucketed first"
        )
    man = _read_manifest(spark, path, vs[-1] if version is None else version)
    if man is None:
        raise ValueError(f"version {version} not committed under {path}")
    if man["id_col"] != id_col:
        raise ValueError(
            f"table under {path} is bucketed by {man['id_col']!r}, not {id_col!r}"
        )
    return man, int(man["n_buckets"]), vs[-1] + 1


def merge_upsert_bucketed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    id_col: str = "id",
    keep: int | None = 2,
    version: int | None = None,
) -> int:
    """Bucket-scoped MERGE: same row semantics as :func:`merge_upsert`
    (update wins per id, null update fields preserve existing, duplicate
    update ids pre-collapse), but only the buckets whose ids appear in
    ``updates`` are read and rewritten. Cost is O(touched buckets +
    updates), not O(table) — the 100 TB merge shape on plain parquet.
    The merge builds on manifest ``version`` (the newest by default)
    and returns the version it committed (``version`` for an empty
    batch).

    Concurrency: SINGLE-WINNER (:func:`_commit`). Of two writers that
    both read manifest t=N exactly one survives; the other raises
    :class:`ConcurrentMergeError` without publishing anything."""
    man, nb, nxt = _bucketed_head(spark, path, id_col, version)
    if "bucket" in updates.columns:
        updates = updates.drop("bucket")
    upd = _dedup_updates(updates, id_col).withColumn(
        "bucket", _bucket_expr(id_col, nb)
    ).persist()
    try:
        # the touched-bucket list is bounded by n_buckets ints — a driver
        # artifact the size of the shard map, not the data
        touched = sorted(
            r["bucket"] for r in upd.select("bucket").distinct().collect()
        )
        if not touched:
            return version
        held = [k for k in touched if str(k) in man["buckets"]]
        if held:
            existing = _read_buckets(spark, path, man, held)
            # _pre_deduped: upd already collapsed above — merge_upsert's
            # own dedup window (a second full shuffle+sort of the batch)
            # can never remove a row here
            merged = merge_upsert(
                existing, upd, id_col=id_col, _pre_deduped=True
            )
        else:
            merged = upd
        return _cas_commit_touched(
            spark, path, man, nxt, touched, merged.drop("bucket"), id_col,
            nb, keep,
        )
    finally:
        # without the finally, every ConcurrentMergeError (a DESIGNED
        # path — the facade's write loop retries it) leaked one persisted
        # copy of the update batch per attempt
        upd.unpersist()


def _cas_commit_touched(
    spark: SparkSession,
    path: str,
    man: dict,
    nxt: int,
    touched: list[int],
    rows_df: DataFrame,
    id_col: str,
    nb: int,
    keep: int | None,
    drop_buckets: frozenset[int] = frozenset(),
) -> int:
    """The bucket-manifest commit shared by bucketed MERGE and DELETE:
    stage ``rows_df`` (the full new contents of the touched buckets) and
    commit the re-pointed manifest through :func:`_commit` as ``t={nxt}``.
    ``drop_buckets`` (delete only) are touched buckets a delete EMPTIED —
    they leave the manifest map entirely (their old dirs age out via GC)
    and need not arrive with the claim, since an empty bucket
    materializes no directory. Every other touched bucket must hold >= 1
    row in ``rows_df`` — for MERGE by construction (each touched bucket
    holds an update row), for DELETE because a non-emptied bucket keeps
    its survivors."""
    materialized = [k for k in touched if k not in drop_buckets]
    buckets = {**man["buckets"], **{str(k): nxt for k in materialized}}
    for k in drop_buckets:
        buckets.pop(str(k), None)
    new_man = {
        "n_buckets": nb,
        "id_col": id_col,
        "buckets": buckets,
        # carry the recorded read schema forward (backfill from this
        # merge's rows for tables created before it was recorded)
        "schema": man.get("schema") or _bucketed_read_schema(rows_df),
    }

    def stage(dest: str):
        _write_bucket_dirs(rows_df, id_col, nb, dest)
        return [f"b={k}" for k in materialized], new_man

    _commit(spark, path, nxt, stage, _MANIFEST)
    _bucketed_gc(spark, path, keep)
    return nxt


def delete_ids_bucketed(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "id",
    keep: int | None = 2,
    version: int | None = None,
) -> int:
    """Bucket-scoped DELETE: drop every row whose id appears in ``ids``,
    reading and rewriting ONLY the buckets those ids hash to — the MERGE
    cost model applied to deletion (O(touched buckets + ids), not
    O(table)). Shares :func:`merge_upsert_bucketed`'s single-winner CAS
    commit, so a concurrent merge and delete race to exactly one
    survivor and the loser raises :class:`ConcurrentMergeError` having
    published nothing. A bucket whose rows ALL die leaves the manifest
    map entirely (an empty bucket materializes no directory; its old dir
    ages out via GC). Ids absent from the table are no-ops — buckets
    holding none of the doomed ids are never read. Like the merge, it
    builds on manifest ``version`` (the newest by default) and returns
    the version it committed."""
    man, nb, nxt = _bucketed_head(spark, path, id_col, version)
    doomed = (
        ids.select(F.col(id_col)).distinct()
        .withColumn("bucket", _bucket_expr(id_col, nb))
        .persist()
    )
    kept = None
    try:
        # bounded by n_buckets ints, and only buckets the manifest
        # actually holds — ids hashing to never-written buckets are
        # no-ops
        touched = sorted(
            r["bucket"]
            for r in doomed.select("bucket").distinct().collect()
            if str(r["bucket"]) in man["buckets"]
        )
        if not touched:
            return version
        existing = _read_buckets(spark, path, man, touched)
        # no broadcast hint: the doomed-id set is caller-sized, not
        # bounded — an explicit hint bypasses the autoBroadcast
        # threshold and a corpus-scale delete would die on the
        # broadcast limit / driver OOM; AQE broadcasts small id sets
        # from runtime sizes on its own and shuffles big ones
        kept = (
            existing.join(doomed.select(id_col), id_col, "left_anti")
            .drop("bucket")
            .withColumn("bucket", _bucket_expr(id_col, nb))
            .persist()
        )
        # which touched buckets still hold rows (bounded driver
        # artifact — the emptied ones leave the manifest instead of
        # staging a dir). kept is persisted: this collect and the
        # staged write inside _cas_commit_touched both consume it, and
        # uncached the O(touched buckets) anti-join ran twice per
        # delete
        remaining = {
            r["bucket"] for r in kept.select("bucket").distinct().collect()
        }
        drop = frozenset(k for k in touched if k not in remaining)
        return _cas_commit_touched(
            spark, path, man, nxt, touched, kept.drop("bucket"), id_col, nb,
            keep, drop_buckets=drop,
        )
    finally:
        if kept is not None:
            kept.unpersist()
        doomed.unpersist()


def _bucketed_gc(spark: SparkSession, path: str, keep: int | None) -> None:
    """Retention: the last ``keep`` manifests stay readable (time travel
    / in-flight readers), with every bucket dir they reference
    (:func:`_retain_versions`); ``keep=None`` leaves it to the caller."""
    if keep is None:
        return
    vs = _bucketed_versions(spark, path)
    live = vs[-keep:] if keep > 0 else vs[-1:]
    _reap_abandoned(spark, path, max(live, default=0), _MANIFEST)
    _retain_versions(spark, path, live, plain_too=False)


def _retain_versions(
    spark: SparkSession, path: str, live: list[int], plain_too: bool = True
) -> None:
    """Reference-counted retention in either layout: every version dir
    below the oldest ``live`` one is deleted, except the bucket dirs a
    live manifest maps (that version only loses its manifest). Versions
    at or above it are live or a writer in flight builds on them.
    ``plain_too=False`` spares _SUCCESS-committed plain versions (an
    in-place migration leaves them beside the manifests)."""
    if not live:
        return
    fs, P = _hadoop_fs(spark, path)
    floor = min(live)
    referenced = set()
    for v in live:
        man = _read_control(spark, f"{path}/t={v}/{_MANIFEST}") or {}
        for k, owner in man.get("buckets", {}).items():
            referenced.add((int(owner), int(k)))
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if not (st.isDirectory() and _is_version_dir_name(name)):
            continue
        v = int(name[2:])
        if v >= floor:
            continue
        manifest = P(st.getPath(), _MANIFEST)
        if (
            not plain_too
            and fs.exists(P(st.getPath(), _SUCCESS))
            and not fs.exists(manifest)
        ):
            continue
        empty = True
        for sub in fs.listStatus(st.getPath()):
            sname = sub.getPath().getName()
            if sub.isDirectory() and sname.startswith("b="):
                if (v, int(sname[2:])) in referenced:
                    empty = False
                else:
                    fs.delete(sub.getPath(), True)
        if empty:
            fs.delete(st.getPath(), True)
        elif fs.exists(manifest):
            # expired manifest: the version is no longer directly
            # readable, its surviving bucket dirs serve newer manifests
            fs.delete(manifest, False)


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
