"""Deployment read path: the materialized namespace snapshot.

The reference's serving architecture is materialize-then-serve: Recon
bootstraps a local copy of the OM DB from a checkpoint tarball, then
answers every query from that copy, applying deltas as they stream in
(OzoneManagerServiceProviderImpl.java:291-430). The TPC-H shim in
``model`` stands in for the checkpoint; THIS module is the bootstrap —
it materializes every derived plane ONCE into the physical layout that
ARCHITECTURE.md specifies (``perfbench/run.py --scale`` measures it), and
the query layer (``model``) reads the materialized tables whenever the
``SPARK_GRAFT_SNAPSHOT_DIR`` flag points at a built snapshot:

- ``om_keys``: ``partitionBy(volume, bucket)`` + key-sorted files →
  partition pruning + row-group prefix skipping (the RocksDB seek
  analogues, SURVEY §4);
- ``om_keys_by_container`` + ``containers`` + ``container_replicas``:
  ``bucketBy(n, container_id)`` catalog tables, n sized to the data
  (see below) → the J1/J2/J4 container joins and aggregations run with
  ZERO shuffle Exchanges (co-located, the ContainerKeyMapper
  inverted-index layout);
- every other plane as plain parquet.

At 100 TB the same two layouts are the design: the namespace sorted
within (volume, bucket) partitions, and the container index bucketed
on container_id so replica/health/key-listing joins co-locate. The
bucket count is sized to the data once per snapshot build
(``bucket_count``): the largest power of two ≤ min(MAX_BUCKETS, input
bytes / ``spark.sql.files.maxPartitionBytes``), at least 1, so a bucket
holds about what one plain-scan split holds. Every scan of a bucketed
table starts one task per bucket, so a fixed 32 made a few-kilobyte
plane cost 32 task launches per scan; every input in this repository
gets one bucket, and inputs from 4 GiB up keep 32. All six tables share
the count — the invariant is that both join sides share it — and the
count is recorded in each table's directory name (``bucketed_path``),
so registering existing files declares the count they were written
with instead of working it out again.

Parquet planes persist across sessions (guarded by _SUCCESS + a
source-marker). Bucketed tables are session-catalog entries over
external parquet paths; registration re-runs the cheap DDL per
session, rewriting the files only when absent.

The bootstrap is many small, independent Spark jobs, so it runs them
side by side: every plane write and every bucketed-table write goes to
one writer pool as wide as the session's ``defaultParallelism``, and
``ensure_snapshot`` runs ``build_snapshot`` and ``register_bucketed``
at the same time (both derive from the shim; neither needs the other's
output). The source marker is written only once every plane has
succeeded; the first failed write is re-raised after the writes already
running have finished, and the queued ones never start. Each bucketed
table is written by as many tasks as the largest divisor of its bucket
count that fits the session's cores, each task holding a whole set of
buckets, so the table still has exactly one file per bucket.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

SNAPSHOT_ENV = "SPARK_GRAFT_SNAPSHOT_DIR"
# the bucket-count cap; a power of two, so every count ``bucket_count``
# returns divides it
MAX_BUCKETS = 32

# Bump when any plane's schema/derivation changes: the marker embeds it,
# so a snapshot written by an older layout reads as not-built and is
# rebuilt instead of serving stale columns (e.g. datanodes.op_state and
# audit_log resource paths, round 4; rm/close/delete-plane detail views
# incl. the DELETING lane, pipeline_details, and the bucketed
# deleted_block_txns + rm planes, round 5).
# v8 (optimization r14, guide §6): bucketed planes are repartitioned by
# the bucket key before the write so each bucket lands in ONE file —
# the previous layout wrote (writer partitions × buckets) files (1025
# for an 8.3 MB rm_replicas plane at sf0.1), and every scan of the
# plane paid ~0.45s of per-file open overhead PER ACTION across the
# whole scm query family. The writer width may be any divisor of the
# bucket count (each task then holds a whole set of buckets, see
# ``_bucket_writers``): the files are the same, so it is not a layout
# change.
# v9: the bucket count is sized to the input (``bucket_count``) instead
# of a fixed 32 and recorded in each bucketed table's directory name
# (``<table>.b<n>``); every scan started one task per bucket, and at
# the repository's input sizes those 32-task stages were most of the
# scm planners' cost. A v8 snapshot's 32-bucket tables are dropped and
# rewritten through the ``force`` path.
LAYOUT_VERSION = 9

# plane name → model builder attribute; every derived table the query
# layer can route to the snapshot
PLANES = (
    "om_keys",
    "om_buckets",
    "om_events",
    "containers",
    "container_replicas",
    "rm_replicas",
    "rm_container_details",
    "rm_replica_details",
    "replica_observations",
    "deleted_block_txns",
    "datanodes",
    "pipelines",
    "pipeline_details",
    "pipeline_members",
    "audit_log",
    "dedup_corpus",
    "embedding_corpus",
    "fso_dirs",
    "fso_files",
)

BUCKETED = {
    "om_keys_by_container": "om_keys",
    "containers_bucketed": "containers",
    "container_replicas_bucketed": "container_replicas",
    # the deleted-block log joins replicas/containers on container_id
    # in every d2 scan — same bucketing co-locates that join too
    "deleted_block_txns_bucketed": "deleted_block_txns",
    # the ReplicationManager planes: every rm1/rm3/rm4 stage is a
    # container-keyed window or rollup, so bucketing removes the one
    # remaining fact Exchange from the action planners
    "rm_replicas_bucketed": "rm_replicas",
    "rm_replica_details_bucketed": "rm_replica_details",
}


def snapshot_dir() -> str | None:
    return os.environ.get(SNAPSHOT_ENV) or None


def _marker_path(base: str) -> str:
    return os.path.join(base, "_SOURCE_SF_DIR")


def is_built(base: str, sf_dir: str) -> bool:
    """A snapshot is usable iff its source marker matches the sf_dir
    being queried — a snapshot of sf0.1 must never serve sf0.01."""
    try:
        with open(_marker_path(base)) as fh:
            return fh.read().strip() == f"{os.path.normpath(sf_dir)}@v{LAYOUT_VERSION}"
    except OSError:
        return False


def plane_path(base: str, name: str) -> str:
    return os.path.join(base, name)


def read_plane(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """The query layer's routing hook: the materialized plane when the
    snapshot flag is on and built for this sf_dir, else None (caller
    derives from the shim). Bucketed planes resolve via the session
    catalog so Spark keeps their co-location metadata."""
    base = snapshot_dir()
    if base is None or not is_built(base, sf_dir):
        return None
    if name in BUCKETED:
        if spark.catalog.tableExists(name):
            return spark.table(name)
        return None
    path = plane_path(base, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    return spark.read.parquet(path)


@functools.cache
def _writer_pool(width: int) -> ThreadPoolExecutor:
    """The bootstrap's writer pool, one per process and width, so the
    plane and bucketed-table writes that ``ensure_snapshot`` runs side
    by side share one bound: at most ``width`` run at once."""
    return ThreadPoolExecutor(width, thread_name_prefix="snapshot-writer")


def _run_writes(
    spark: SparkSession, writes: dict[str, Callable[[], None]]
) -> dict[str, float]:
    """Run independent writes on the writer pool; return each one's
    seconds. The pool threads inherit the caller's job group and local
    properties. On the first failure the queued writes are cancelled,
    the running ones are waited for, and that failure is re-raised —
    no write is still in flight when this returns or raises."""
    inherit = inheritable_thread_target(spark)

    def timed(write: Callable[[], None]) -> float:
        t0 = time.time()
        write()
        return round(time.time() - t0, 3)

    pool = _writer_pool(spark.sparkContext.defaultParallelism)
    futures = {pool.submit(inherit(timed), write): name for name, write in writes.items()}
    error = None
    for fut in as_completed(futures):
        if error is None and not fut.cancelled() and fut.exception() is not None:
            error = fut.exception()
            for other in futures:
                other.cancel()
    if error is not None:
        raise error
    return {name: fut.result() for fut, name in futures.items()}


def _write_plane(spark: SparkSession, sf_dir: str, path: str, name: str) -> None:
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.sources.snapshot import write_snapshot

    build = getattr(model, f"_build_{name}", None)
    df = build(spark, sf_dir) if build is not None else getattr(model, name)(spark, sf_dir)
    if name == "om_keys":
        write_snapshot(df, path)  # partitionBy(volume,bucket), key-sorted
    else:
        df.write.mode("overwrite").option("compression", "zstd").parquet(path)


def build_snapshot(spark: SparkSession, sf_dir: str, base: str) -> dict[str, float]:
    """Materialize every plane from the shim derivation, the planes in
    parallel on the writer pool. Idempotent: skips planes whose _SUCCESS
    exists when the marker matches. Writes the marker only after every
    plane has succeeded. Returns per-plane build seconds."""
    os.makedirs(base, exist_ok=True)
    fresh = not is_built(base, sf_dir)
    writes = {}
    for name in PLANES:
        path = plane_path(base, name)
        if not fresh and os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        writes[name] = functools.partial(_write_plane, spark, sf_dir, path, name)
    timings = _run_writes(spark, writes)
    with open(_marker_path(base), "w") as fh:
        fh.write(f"{os.path.normpath(sf_dir)}@v{LAYOUT_VERSION}")
    return timings


def bucket_count(input_bytes: int, split: int) -> int:
    """Buckets for a snapshot whose inputs total ``input_bytes``: the
    largest power of two ≤ min(MAX_BUCKETS, input_bytes // split), and
    at least 1, so a bucket holds about what one plain-scan split of
    ``split`` bytes holds. Being a power of two ≤ MAX_BUCKETS, it
    divides MAX_BUCKETS."""
    fit = max(1, min(MAX_BUCKETS, input_bytes // split))
    return 1 << (fit.bit_length() - 1)


def split_bytes(spark: SparkSession) -> int:
    """One scan split: the session's ``spark.sql.files.maxPartitionBytes``,
    the most a plain file scan puts in one task. The unit the bucket
    count sizes against, and the cap of :func:`min_split_bytes`."""
    return spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


def min_split_bytes(spark: SparkSession) -> int:
    """The smallest split a file scan plans: Spark sizes a scan's splits
    at min(:func:`split_bytes`, max(``spark.sql.files.openCostInBytes``,
    bytes / cores)), so a plane of at most this many bytes is never cut
    for its size, and by Spark's own cost model reading all of it costs
    no more than opening one more file."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(split_bytes(spark), conf.filesOpenCostInBytes())


def data_bucket_count(spark: SparkSession, sf_dir: str) -> int:
    """The bucket count the inputs under ``sf_dir`` earn, one split
    being :func:`split_bytes`."""
    input_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(sf_dir) for f in fs
    )
    return bucket_count(input_bytes, split_bytes(spark))


def bucketed_path(base: str, table: str, buckets: int) -> str:
    """Where ``table``'s files live when written with ``buckets``
    buckets: the count is part of the directory name."""
    return os.path.join(base, f"{table}.b{buckets}")


def _table_dirs(base: str, table: str) -> dict[str, int | None]:
    """Every directory under ``base`` holding a copy of ``table``, with
    the bucket count its name records (None for an unversioned v8
    directory)."""
    pattern = re.compile(rf"{re.escape(table)}(?:\.b(\d+))?")
    names = os.listdir(base) if os.path.isdir(base) else []
    return {
        os.path.join(base, name): int(m.group(1)) if m.group(1) else None
        for name in names
        if (m := pattern.fullmatch(name))
    }


def written_buckets(base: str, table: str) -> int | None:
    """The bucket count ``table``'s complete files under ``base`` were
    written with, or None when there is no complete copy."""
    for path, buckets in _table_dirs(base, table).items():
        if buckets is not None and os.path.exists(os.path.join(path, "_SUCCESS")):
            return buckets
    return None


def _bucket_writers(spark: SparkSession, buckets: int) -> int:
    """Writer tasks per bucketed table: the largest divisor of
    ``buckets`` that fits the session's cores. Because it divides
    ``buckets``, ``pmod(murmur3(c), k) == pmod(murmur3(c), buckets) mod
    k``, so the repartition sends every bucket whole to one task, and
    the table still gets exactly one file per bucket."""
    cores = spark.sparkContext.defaultParallelism
    return max(k for k in range(1, buckets + 1) if buckets % k == 0 and k <= cores)


def _write_bucketed(
    spark: SparkSession, sf_dir: str, table: str, source: str, base: str, buckets: int
) -> None:
    from hadoop_ozone_spark import model

    # one copy per table: a copy at another count would make the count
    # registration reads back ambiguous
    for stale in _table_dirs(base, table):
        shutil.rmtree(stale)
    (
        getattr(model, source)(spark, sf_dir)
        # ONE file per bucket (guide §6): repartition by the bucket key
        # into a divisor of numBuckets — the repartition hash
        # (pmod(murmur3, n)) is the bucket-id function reduced mod n, so
        # each writer task holds a whole set of buckets and writes one
        # file for each. Without this the write fans out to (writer
        # partitions × buckets) tiny files and every scan pays the
        # per-file open cost per action.
        .repartition(_bucket_writers(spark, buckets), F.col("container_id"))
        .write.mode("overwrite")
        .option("path", bucketed_path(base, table, buckets))
        .option("compression", "zstd")
        .bucketBy(buckets, "container_id")
        .sortBy("container_id")
        .saveAsTable(table)
    )


def register_bucketed(
    spark: SparkSession, sf_dir: str, base: str, force: bool = False
) -> dict[str, float]:
    """Create the container-co-located bucketed tables in the session
    catalog (external parquet under the snapshot dir). Files are
    rewritten only when absent (or when ``force`` says the snapshot was
    rebuilt for a new layout version), the rewrites in parallel on the
    writer pool; registration itself is cheap DDL that must run once per
    session (the in-memory catalog does not persist).

    All tables share one bucket count, so their joins stay co-located:
    the count the existing files were written with, read back from
    their directory names, or — for a fresh snapshot, or existing files
    that disagree — the count the data earns (``data_bucket_count``).
    Existing files are always declared with the count they were written
    with; files at any other count are rewritten."""
    from hadoop_ozone_spark import model

    written = {} if force else {t: written_buckets(base, t) for t in BUCKETED}
    known = {n for n in written.values() if n is not None}
    buckets = known.pop() if len(known) == 1 else data_bucket_count(spark, sf_dir)
    timings: dict[str, float] = {}
    writes = {}
    for table, source in BUCKETED.items():
        t0 = time.time()
        if force:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        elif spark.catalog.tableExists(table):
            continue
        if written.get(table) == buckets:
            # register the existing bucketed files without rewriting
            src_df = getattr(model, source)(spark, sf_dir)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in src_df.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {table} ({cols}) USING parquet "
                f"OPTIONS (path '{bucketed_path(base, table, buckets)}') "
                f"CLUSTERED BY (container_id) SORTED BY (container_id) "
                f"INTO {buckets} BUCKETS"
            )
            timings[table] = round(time.time() - t0, 3)
        else:
            writes[table] = functools.partial(
                _write_bucketed, spark, sf_dir, table, source, base, buckets
            )
    timings.update(_run_writes(spark, writes))
    return timings


def ensure_snapshot(spark: SparkSession, sf_dir: str, base: str) -> dict[str, float]:
    """Build-if-missing + register: the bench/deployment warmup step.
    The planes and the bucketed tables are built side by side, their
    writes sharing the writer pool; neither needs the other's output.
    Sets the routing flag so subsequent ``model`` loads read the
    snapshot. Returns build timings (empty when everything existed)."""
    fresh = not is_built(base, sf_dir)
    with ThreadPoolExecutor(1, thread_name_prefix="snapshot-bucketed") as side:
        tables = side.submit(
            inheritable_thread_target(spark)(register_bucketed), spark, sf_dir, base, fresh
        )
        timings = build_snapshot(spark, sf_dir, base)
    timings.update(tables.result())
    os.environ[SNAPSHOT_ENV] = base
    return timings
