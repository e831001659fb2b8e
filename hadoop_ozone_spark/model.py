"""Data model: driver TPC-H-ish testdata → Ozone namespace tables.

The reference's universe is a 3-level namespace ``/volume/bucket/key``
stored in RocksDB column families (SURVEY.md §1.1; reference
``OMDBDefinition.java``, ``OmKeyInfo.java:48-71``). The driver supplies
TPC-H-ish parquet instead of OM protobuf dumps, so — per FIXTURES.md §9 —
we derive the namespace tables deterministically from them:

- ``lineitem``  → ``om_keys``   (the keyTable; one row per object key)
- ``events``    → ``om_events`` (the CDC feed, SURVEY §2.1 S4)
- ``part``      → ``containers``; ``lineitem`` → ``container_replicas``
- ``documents`` / ``embeddings`` → datapipe corpora (used as-is)

Every derivation exists twice, in lockstep: a Spark ``DataFrame`` builder
and a DuckDB CTE string (used by ``__spark_entry__.oracle_sql``). Both
use only arithmetic whose result is bit-identical across engines
(integer modulo, string concat of integers, ``floor`` before any
double→int cast — Spark truncates, DuckDB rounds, so we never cast a
fractional double directly).

Scale note: at 100 TB the physical ``om_keys`` table would be written
partitioned by ``(volume, bucket)`` and sorted by ``key`` within files
(see ``sources/snapshot.py``); the derivation below is only the test
shim that stands a TPC-H file in for that table.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_ozone_spark import scratch

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Derived-table memo: the driver runs dozens of queries sequentially in
# one session; each namespace query re-deriving om_keys from lineitem
# would repay the string-building cost every time. Cache the DataFrame
# keyed by (session, sf_dir). Two backing modes:
#  - shim mode (default): derive from the TPC-H files, persisted
#    MEMORY_AND_DISK (sf0.1 keys ≈ 120 MB);
#  - snapshot mode (SPARK_GRAFT_SNAPSHOT_DIR set + built, see
#    sources/deployment.py): read the materialized parquet plane — the
#    deployment read path; NOT persisted, because measuring the real
#    columnar scan (partition pruning, row-group skipping) is the point.
# The snapshot bootstrap derives planes on several threads at once, so
# get-or-build-and-persist runs under one lock per key: threads asking
# for the same derivation share one build (and one persisted copy),
# threads deriving different ones never wait on each other.
_DERIVED_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_KEY_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}
_KEY_LOCKS_GUARD = threading.Lock()


def _memoized(
    name: str, spark: SparkSession, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    key = (scratch._session_key(spark), sf_dir, name)
    df = _DERIVED_CACHE.get(key)
    if df is not None:
        return df
    with _KEY_LOCKS_GUARD:
        lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with lock:
        df = _DERIVED_CACHE.get(key)
        if df is None:
            from hadoop_ozone_spark.sources import deployment

            df = deployment.read_plane(spark, sf_dir, name)
            if df is None:
                df = build().persist()
            _DERIVED_CACHE[key] = df
    return df


def clear_derived_cache() -> None:
    """Drop the memo (and its persisted blocks) — required when the
    snapshot flag flips mid-session, e.g. right after
    ``deployment.ensure_snapshot`` builds the planes the memo should
    now read instead of the shim derivations it cached during the
    build."""
    for df in _DERIVED_CACHE.values():
        try:
            df.unpersist(False)
        except Exception:
            pass
    _DERIVED_CACHE.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Depending on the Spark
        # build this reads either as long nanos (legacy conf honored) or
        # natively as TIMESTAMP_NTZ micros; normalize both to session-tz
        # TIMESTAMP. Both routes truncate ns→us exactly as DuckDB does,
        # so the engines agree; the long route integer-divides (a double
        # division would lose precision at ~1.6e18 ns).
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # session tz is UTC, so NTZ→TZ cast re-labels without shifting
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# om_keys: lineitem → keyTable rows (ref OmKeyInfo.java:48-71)
#
#   volume  = 'vol_' || lower(l_returnflag)            (3 volumes)
#   bucket  = 'bkt_' || lower(l_linestatus)            (2 buckets/volume)
#   key     = dir<orderkey%7>/sub<partkey%5>/f_<orderkey>_<linenumber>
#   row_key = '/volume/bucket/key'   (OM_KEY_PREFIX join,
#             ref OmMetadataManagerImpl.java:531-590)
#   data_size           = floor(l_extendedprice * 100)  (bytes)
#   replication_factor  = 3 if orderkey even else 1     (RATIS THREE/ONE)
#   container_id        = l_partkey   (block location → container join J1/J4)
#   creation_time       = l_shipdate
# ---------------------------------------------------------------------------

def om_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("om_keys", spark, sf_dir, lambda: _build_om_keys(spark, sf_dir))


def _build_om_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    volume = F.concat(F.lit("vol_"), F.lower("l_returnflag"))
    bucket = F.concat(F.lit("bkt_"), F.lower("l_linestatus"))
    # filename carries (orderkey, linenumber, partkey, suppkey, size) —
    # the minimal combination that is UNIQUE in the driver data at every
    # sf (namespace row keys must be unique, as in RocksDB)
    key = F.concat(
        F.lit("dir"), F.col("l_orderkey") % 7,
        F.lit("/sub"), F.col("l_partkey") % 5,
        F.lit("/f_"), F.col("l_orderkey"), F.lit("_"), F.col("l_linenumber"),
        F.lit("_"), F.col("l_partkey"), F.lit("_"), F.col("l_suppkey"),
        F.lit("_"), F.floor(F.col("l_extendedprice") * 100),
    )
    return li.select(
        volume.alias("volume"),
        bucket.alias("bucket"),
        key.alias("key"),
        F.concat(F.lit("/"), volume, F.lit("/"), bucket, F.lit("/"), key).alias("row_key"),
        F.floor(F.col("l_extendedprice") * 100).alias("data_size"),
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(3)).otherwise(F.lit(1)).alias(
            "replication_factor"
        ),
        F.col("l_partkey").alias("container_id"),
        F.col("l_suppkey").alias("datanode_id"),
        F.col("l_shipdate").alias("creation_time"),
    )


OM_KEYS_CTE = """
om_keys AS (
  SELECT
    concat('vol_', lower(l_returnflag)) AS volume,
    concat('bkt_', lower(l_linestatus)) AS bucket,
    concat('dir', l_orderkey % 7, '/sub', l_partkey % 5,
           '/f_', l_orderkey, '_', l_linenumber, '_', l_partkey, '_',
           l_suppkey, '_', CAST(floor(l_extendedprice * 100) AS BIGINT)) AS key,
    concat('/vol_', lower(l_returnflag), '/bkt_', lower(l_linestatus),
           '/dir', l_orderkey % 7, '/sub', l_partkey % 5,
           '/f_', l_orderkey, '_', l_linenumber, '_', l_partkey, '_',
           l_suppkey, '_', CAST(floor(l_extendedprice * 100) AS BIGINT)) AS row_key,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS data_size,
    CASE WHEN l_orderkey % 2 = 0 THEN 3 ELSE 1 END AS replication_factor,
    l_partkey AS container_id,
    l_suppkey AS datanode_id,
    l_shipdate AS creation_time
  FROM lineitem
)"""


# ---------------------------------------------------------------------------
# om_events: events → CDC feed (ref OMDBUpdateEvent.java:28-160).
# op derived deterministically from event_type; key = object path keyed by
# user_id so one key sees many ops over time (PUT/UPDATE/DELETE history).
# seqno = event_id (strictly increasing in the driver data).
# ---------------------------------------------------------------------------

def om_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("om_events", spark, sf_dir, lambda: _build_om_events(spark, sf_dir))


def _build_om_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "purchase", F.lit("PUT"))
        .when(F.col("event_type") == "error", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
    )
    return ev.select(
        F.col("event_id").alias("seqno"),
        op.alias("op"),
        F.concat(F.lit("/vol_cdc/bkt_cdc/obj_"), F.col("user_id")).alias("row_key"),
        F.floor(F.col("value") * 1000).alias("data_size"),
        F.col("ts").alias("event_time"),
        F.col("user_id"),
        F.col("event_type"),
    )


OM_EVENTS_CTE = """
om_events AS (
  SELECT
    event_id AS seqno,
    CASE WHEN event_type = 'purchase' THEN 'PUT'
         WHEN event_type = 'error' THEN 'DELETE'
         ELSE 'UPDATE' END AS op,
    concat('/vol_cdc/bkt_cdc/obj_', user_id) AS row_key,
    CAST(floor(value * 1000) AS BIGINT) AS data_size,
    ts AS event_time,
    user_id,
    event_type
  FROM events
)"""


# ---------------------------------------------------------------------------
# containers + replicas: SCM container plane (ref ContainerHealthStatus.java:
# 52-113). containers ← part; replicas ← distinct (container, datanode)
# pairs observed in lineitem block locations.
# ---------------------------------------------------------------------------

def containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("containers", spark, sf_dir, lambda: _build_containers(spark, sf_dir))


def _build_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    state = (
        F.when(F.col("p_partkey") % 11 == 0, F.lit("DELETED"))
        .when(F.col("p_size") % 3 == 0, F.lit("OPEN"))
        .when(F.col("p_size") % 3 == 1, F.lit("CLOSING"))
        .otherwise(F.lit("CLOSED"))
    )
    return p.select(
        F.col("p_partkey").alias("container_id"),
        state.alias("state"),
        F.lit(3).alias("replication_factor"),
        F.floor(F.col("p_retailprice") * 1000).alias("used_bytes"),
        (F.col("p_partkey") % 25).alias("pipeline_id"),
    )


# shared J2 classification body: replica counts + rack placement
# (ContainerHealthStatus.java:52-113, ContainerPlacementStatusDefault);
# used by the J2 oracles in __spark_entry__ and the recon unhealthy
# page oracle in plans/scm_queries
J2_CLASSIFIED_SQL = """
  SELECT c.container_id, c.state, c.replication_factor,
         COALESCE(r.replica_count, 0) AS replica_count,
         c.replication_factor - COALESCE(r.replica_count, 0) AS replica_delta,
         COALESCE(r.distinct_racks, 0) AS actual_placement_count,
         LEAST(c.replication_factor, t.total_racks) AS expected_placement_count,
         (COALESCE(r.replica_count, 0) > 0 AND c.replication_factor > 1
          AND COALESCE(r.distinct_racks, 0) < LEAST(c.replication_factor, t.total_racks))
           AS is_mis_replicated,
         CASE WHEN COALESCE(r.replica_count, 0) > 0 AND c.replication_factor > 1
                   AND COALESCE(r.distinct_racks, 0) < LEAST(c.replication_factor, t.total_racks)
              THEN LEAST(c.replication_factor, t.total_racks) - COALESCE(r.distinct_racks, 0)
              ELSE 0 END AS mis_replicated_delta,
         CASE WHEN COALESCE(r.replica_count, 0) > 0 AND c.replication_factor > 1
                   AND COALESCE(r.distinct_racks, 0) < LEAST(c.replication_factor, t.total_racks)
              THEN concat('The container is mis-replicated as it is on ',
                          COALESCE(r.distinct_racks, 0),
                          ' racks but should be on ',
                          LEAST(c.replication_factor, t.total_racks), ' racks.')
              END AS mis_replicated_reason,
         CASE WHEN COALESCE(r.replica_count, 0) = 0 THEN 'MISSING'
              WHEN COALESCE(r.replica_count, 0) < c.replication_factor THEN 'UNDER_REPLICATED'
              WHEN COALESCE(r.replica_count, 0) > c.replication_factor THEN 'OVER_REPLICATED'
              WHEN COALESCE(r.replica_count, 0) > 0 AND c.replication_factor > 1
                   AND COALESCE(r.distinct_racks, 0) < LEAST(c.replication_factor, t.total_racks)
              THEN 'MIS_REPLICATED'
              ELSE 'HEALTHY' END AS health
  FROM containers c
  LEFT JOIN (SELECT cr.container_id, count(*) AS replica_count,
                    count(DISTINCT d.rack) AS distinct_racks
             FROM container_replicas cr
             LEFT JOIN datanodes d ON cr.datanode_id = d.datanode_id
             GROUP BY cr.container_id) r
    ON c.container_id = r.container_id
  CROSS JOIN (SELECT count(DISTINCT rack) AS total_racks FROM datanodes) t
  WHERE c.state <> 'DELETED'
"""


CONTAINERS_CTE = """
containers AS (
  SELECT
    p_partkey AS container_id,
    CASE WHEN p_partkey % 11 = 0 THEN 'DELETED'
         WHEN p_size % 3 = 0 THEN 'OPEN'
         WHEN p_size % 3 = 1 THEN 'CLOSING'
         ELSE 'CLOSED' END AS state,
    3 AS replication_factor,
    CAST(floor(p_retailprice * 1000) AS BIGINT) AS used_bytes,
    p_partkey % 25 AS pipeline_id
  FROM part
)"""


def container_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("container_replicas", spark, sf_dir, lambda: _build_container_replicas(spark, sf_dir))


def _build_container_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sparse deterministic subset so the J2 classifier sees all four
    # health classes (unfiltered, every container is OVER-replicated)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_partkey") + F.col("l_suppkey")) % 11 < 2)
        .select(
            F.col("l_partkey").alias("container_id"),
            F.col("l_suppkey").alias("datanode_id"),
        )
        .distinct()
    )


CONTAINER_REPLICAS_CTE = """
container_replicas AS (
  SELECT DISTINCT l_partkey AS container_id, l_suppkey AS datanode_id
  FROM lineitem WHERE (l_partkey + l_suppkey) % 11 < 2
)"""


# ---------------------------------------------------------------------------
# Container-co-located layouts (deployment only): the same logical
# tables served from bucketBy(container_id) catalog tables, so the
# J1/J2/J4 container joins and aggregations run without a shuffle
# Exchange (sources/deployment.py builds them; the probe measured the
# 2-Exchange → 0 drop at 6M/60M keys, BENCH_NOTES.md). In shim mode
# each accessor falls back to its logical twin — identical rows either
# way, so oracle correctness is layout-independent.
# ---------------------------------------------------------------------------

def _bucketed_or(name: str, fallback, spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_ozone_spark.sources import deployment

    snap = deployment.read_plane(spark, sf_dir, name)
    return snap if snap is not None else fallback(spark, sf_dir)


def om_keys_by_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_or("om_keys_by_container", om_keys, spark, sf_dir)


def containers_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_or("containers_bucketed", containers, spark, sf_dir)


def container_replicas_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_or("container_replicas_bucketed", container_replicas, spark, sf_dir)


def deleted_block_txns_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_or("deleted_block_txns_bucketed", deleted_block_txns, spark, sf_dir)


def rm_replicas_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_or("rm_replicas_bucketed", rm_replicas, spark, sf_dir)


def rm_replica_details_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_or(
        "rm_replica_details_bucketed", rm_replica_details, spark, sf_dir
    )


def replica_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "replica_observations", spark, sf_dir,
        lambda: _build_replica_observations(spark, sf_dir),
    )


def _build_replica_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica sightings feed for the Recon replica-history CF
    (ReconContainerManager.java:289-336 — every ICR/FCR report upserts
    (container, datanode, seen-time)). Observations = lineitem lanes
    0-2 of the deterministic hash, with ``l_shipdate`` as the report
    time. Lanes 0-1 are the LIVE replica set (``container_replicas``);
    lane 2 is sightings whose replica has since been removed — history
    strictly contains the live plane, exactly as the reference's
    history CF outlives removeContainerReplica (the removal flushes
    last_seen instead of deleting the row,
    ReconContainerManager.java:319-336), which is what lets
    /containers/missing report last-known locations for containers
    with ZERO live replicas."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_partkey") + F.col("l_suppkey")) % 11 < 3).select(
        F.col("l_partkey").alias("container_id"),
        F.col("l_suppkey").alias("datanode_id"),
        F.col("l_shipdate").alias("seen_time"),
    )


REPLICA_OBSERVATIONS_CTE = """
replica_observations AS (
  SELECT l_partkey AS container_id, l_suppkey AS datanode_id,
         l_shipdate AS seen_time
  FROM lineitem WHERE (l_partkey + l_suppkey) % 11 < 3
)"""


# ---------------------------------------------------------------------------
# deleted_block_txns: the SCM deletedBlocksTable (DeletedBlocksTransaction
# proto; DeletedBlockLogImpl.java:77-201). One txn per deleted-key batch:
# txid strictly ordered (RocksDB key), container it targets, number of
# local block ids, and the retry count — -1 marks retries exhausted
# (DeletedBlockLogImpl.java:194-201 sets count to -1 past maxRetry so
# admins can inspect via getFailedTransactions). Shim: one txn per
# lineitem row on lane (l_orderkey + l_partkey) % 7 == 0; ~1/50 of txns
# land on the exhausted lane.
# ---------------------------------------------------------------------------

def deleted_block_txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "deleted_block_txns", spark, sf_dir,
        lambda: _build_deleted_block_txns(spark, sf_dir),
    )


def _build_deleted_block_txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") + F.col("l_partkey")) % 7 == 0).select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("txid"),
        F.col("l_partkey").alias("container_id"),
        F.col("l_quantity").cast("bigint").alias("block_count"),
        F.when((F.col("l_orderkey") + F.col("l_suppkey")) % 53 == 0, F.lit(-1))
        .otherwise(F.col("l_suppkey") % 5)
        .alias("retry_count"),
    )


DELETED_BLOCK_TXNS_CTE = """
deleted_block_txns AS (
  SELECT
    l_orderkey * 8 + l_linenumber AS txid,
    l_partkey AS container_id,
    CAST(l_quantity AS BIGINT) AS block_count,
    CASE WHEN (l_orderkey + l_suppkey) % 53 = 0 THEN -1
         ELSE l_suppkey % 5 END AS retry_count
  FROM lineitem
  WHERE (l_orderkey + l_partkey) % 7 = 0
)"""


# ---------------------------------------------------------------------------
# rm_replicas: the ReplicationManager's replica view. Same (container,
# datanode) pair space as container_replicas but on a PER-CONTAINER
# VARIABLE-DENSITY lane ((p+s) % 23 < p % 6): the admission width
# cycles 0..5 with the container id, so the driver data exercises every
# action class the planner emits (ReplicationManager.java:692-805
# under-replication, :807-860 over-replication) — measured at sf0.01:
# 455 missing / 531 under / 273 exact / 741 over. The uniform sparse
# lane of container_replicas never exceeds factor 3, which would leave
# the DELETE branch dead code under test.
# ---------------------------------------------------------------------------

def rm_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "rm_replicas", spark, sf_dir, lambda: _build_rm_replicas(spark, sf_dir)
    )


def _build_rm_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_partkey") + F.col("l_suppkey")) % 23
            < F.col("l_partkey") % 6
        )
        .select(
            F.col("l_partkey").alias("container_id"),
            F.col("l_suppkey").alias("datanode_id"),
        )
        .distinct()
    )


RM_REPLICAS_CTE = """
rm_replicas AS (
  SELECT DISTINCT l_partkey AS container_id, l_suppkey AS datanode_id
  FROM lineitem WHERE (l_partkey + l_suppkey) % 23 < l_partkey % 6
)"""


# ---------------------------------------------------------------------------
# Close-plane detail views (round 5): the ReplicationManager's
# container/replica STATE detail — container LifeCycleState including
# QUASI_CLOSED plus the BCSID (sequenceId), and per-replica
# ContainerReplicaProto.State + sequenceId — the inputs of the
# close/force-close dispatch (ReplicationManager.java:330-346 CLOSING
# resend, :575-587 canForceClose quorum, :655-681 max-BCSID force
# close, :929-977 unstable handling). Kept separate from the Recon
# `containers` plane so its state vocabulary (no QUASI_CLOSED) and the
# dependent round-1..4 oracles stay untouched. Both laws are pure
# p/(p+s) arithmetic so the replica view needs no join and the oracle
# replays bit-for-bit. Replica state matches its container except two
# mismatch lanes ((p+s)%13 ∈ {0,1} → OPEN / UNHEALTHY); QUASI_CLOSED
# replicas lag the container BCSID by (p+s)%3.
# ---------------------------------------------------------------------------

_RMC_STATE_SQL = """CASE WHEN {p} % 11 = 0 THEN 'DELETED'
         WHEN {p} % 11 = 1 THEN 'DELETING'
         WHEN {p} % 4 = 0 THEN 'OPEN'
         WHEN {p} % 4 = 1 THEN 'CLOSING'
         WHEN {p} % 4 = 2 THEN 'QUASI_CLOSED'
         ELSE 'CLOSED' END"""


def _rmc_state(p):
    return (
        F.when(p % 11 == 0, F.lit("DELETED"))
        .when(p % 11 == 1, F.lit("DELETING"))
        .when(p % 4 == 0, F.lit("OPEN"))
        .when(p % 4 == 1, F.lit("CLOSING"))
        .when(p % 4 == 2, F.lit("QUASI_CLOSED"))
        .otherwise(F.lit("CLOSED"))
    )


def rm_container_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "rm_container_details", spark, sf_dir,
        lambda: _build_rm_container_details(spark, sf_dir),
    )


def _build_rm_container_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    return p.select(
        pk.alias("container_id"),
        _rmc_state(pk).alias("state"),
        F.lit(3).alias("replication_factor"),
        (pk * 13 % 50).alias("sequence_id"),
    )


RM_CONTAINER_DETAILS_CTE = f"""
rm_container_details AS (
  SELECT p_partkey AS container_id,
         {_RMC_STATE_SQL.format(p='p_partkey')} AS state,
         3 AS replication_factor,
         p_partkey * 13 % 50 AS sequence_id
  FROM part
)"""


def rm_replica_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "rm_replica_details", spark, sf_dir,
        lambda: _build_rm_replica_details(spark, sf_dir),
    )


def _build_rm_replica_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = rm_replicas(spark, sf_dir)
    p, s = F.col("container_id"), F.col("datanode_id")
    cstate = _rmc_state(p)
    # DELETING/DELETED are container-lifecycle-only states; their
    # replicas report CLOSED (ContainerReplicaProto.State has no
    # deleting member — the datanode closes before deletion)
    matched = (
        F.when(cstate.isin("DELETING", "DELETED"), F.lit("CLOSED"))
        .otherwise(cstate)
    )
    rstate = (
        F.when((p + s) % 13 == 0, F.lit("OPEN"))
        .when((p + s) % 13 == 1, F.lit("UNHEALTHY"))
        .otherwise(matched)
    )
    cseq = p * 13 % 50
    seq = F.when(rstate == "QUASI_CLOSED", cseq - (p + s) % 3).otherwise(cseq)
    return pairs.select(
        "container_id",
        "datanode_id",
        rstate.alias("replica_state"),
        seq.alias("sequence_id"),
    )


_RMC_MATCHED_SQL = f"""CASE WHEN {_RMC_STATE_SQL.format(p='container_id')}
                IN ('DELETING', 'DELETED') THEN 'CLOSED'
           ELSE {_RMC_STATE_SQL.format(p='container_id')} END"""

RM_REPLICA_DETAILS_CTE = f"""
rm_replica_details AS (
  SELECT container_id, datanode_id,
         CASE WHEN (container_id + datanode_id) % 13 = 0 THEN 'OPEN'
              WHEN (container_id + datanode_id) % 13 = 1 THEN 'UNHEALTHY'
              ELSE {_RMC_MATCHED_SQL} END AS replica_state,
         CASE WHEN (CASE WHEN (container_id + datanode_id) % 13 = 0 THEN 'OPEN'
                         WHEN (container_id + datanode_id) % 13 = 1 THEN 'UNHEALTHY'
                         ELSE {_RMC_MATCHED_SQL} END) = 'QUASI_CLOSED'
              THEN container_id * 13 % 50 - (container_id + datanode_id) % 3
              ELSE container_id * 13 % 50 END AS sequence_id
  FROM rm_replicas
)"""


# ---------------------------------------------------------------------------
# datanodes: the SCM node plane (ref NodeManager/NetworkTopology). One row
# per registered datanode ← supplier; rack ← nation bucket (5 racks), so
# the J2 placement check (SCMCommonPlacementPolicy.java:288-320,
# ContainerPlacementStatusDefault.java) has a real topology to validate
# against; node_state feeds A6's healthy-datanode count
# (ClusterStateEndpoint.java:83-86).
# ---------------------------------------------------------------------------

def datanodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("datanodes", spark, sf_dir, lambda: _build_datanodes(spark, sf_dir))


def _build_datanodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    node_state = (
        F.when(F.col("s_suppkey") % 19 == 0, F.lit("STALE"))
        .when(F.col("s_suppkey") % 23 == 0, F.lit("DEAD"))
        .otherwise(F.lit("HEALTHY"))
    )
    # NodeOperationalState (HddsProtos): the admin plane driving the
    # decommission workflow (DatanodeAdminMonitorImpl.java:183-209) and
    # the balancer's IN_SERVICE scope (SCMNodeManager.java:676-688)
    op_state = (
        F.when(F.col("s_suppkey") % 17 == 0, F.lit("DECOMMISSIONING"))
        .when(F.col("s_suppkey") % 29 == 0, F.lit("IN_MAINTENANCE"))
        .when(F.col("s_suppkey") % 41 == 0, F.lit("ENTERING_MAINTENANCE"))
        .otherwise(F.lit("IN_SERVICE"))
    )
    return s.select(
        F.col("s_suppkey").alias("datanode_id"),
        F.col("s_name").alias("hostname"),
        F.concat(F.lit("rack_"), F.col("s_nationkey") % 5).alias("rack"),
        node_state.alias("node_state"),
        op_state.alias("op_state"),
        # node-report capacity (SCMNodeStat): deterministic 4–19 GB tiers
        ((F.col("s_suppkey") % 16 + 4) * F.lit(1_000_000_000)).alias("capacity_bytes"),
    )


DATANODES_CTE = """
datanodes AS (
  SELECT
    s_suppkey AS datanode_id,
    s_name AS hostname,
    concat('rack_', s_nationkey % 5) AS rack,
    CASE WHEN s_suppkey % 19 = 0 THEN 'STALE'
         WHEN s_suppkey % 23 = 0 THEN 'DEAD'
         ELSE 'HEALTHY' END AS node_state,
    CASE WHEN s_suppkey % 17 = 0 THEN 'DECOMMISSIONING'
         WHEN s_suppkey % 29 = 0 THEN 'IN_MAINTENANCE'
         WHEN s_suppkey % 41 = 0 THEN 'ENTERING_MAINTENANCE'
         ELSE 'IN_SERVICE' END AS op_state,
    (s_suppkey % 16 + 4) * 1000000000 AS capacity_bytes
  FROM supplier
)"""


# ---------------------------------------------------------------------------
# pipeline_members: datanode ↔ pipeline membership (NodeManager.getPipelines /
# Pipeline.getNodes). Each datanode serves its nation's pipeline plus a
# deterministic secondary assignment — multi-pipeline membership, as on a
# real cluster.
# ---------------------------------------------------------------------------

def pipeline_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("pipeline_members", spark, sf_dir, lambda: _build_pipeline_members(spark, sf_dir))


def _build_pipeline_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    primary = s.select(
        F.col("s_nationkey").alias("pipeline_id"),
        F.col("s_suppkey").alias("datanode_id"),
    )
    secondary = s.select(
        (F.col("s_suppkey") % 25).alias("pipeline_id"),
        F.col("s_suppkey").alias("datanode_id"),
    )
    return primary.unionByName(secondary).distinct()


PIPELINE_MEMBERS_CTE = """
pipeline_members AS (
  SELECT DISTINCT pipeline_id, datanode_id FROM (
    SELECT s_nationkey AS pipeline_id, s_suppkey AS datanode_id FROM supplier
    UNION ALL
    SELECT s_suppkey % 25 AS pipeline_id, s_suppkey AS datanode_id FROM supplier
  )
)"""


# ---------------------------------------------------------------------------
# pipelines: the SCM pipeline plane (ref PipelineManager; counted by
# ClusterStateEndpoint.java:82,108). One row per pipeline ← nation;
# state/replication deterministic.
# ---------------------------------------------------------------------------

def pipelines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("pipelines", spark, sf_dir, lambda: _build_pipelines(spark, sf_dir))


def _build_pipelines(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    state = (
        F.when(F.col("n_nationkey") % 4 == 0, F.lit("CLOSED"))
        .when(F.col("n_nationkey") % 4 == 1, F.lit("DORMANT"))
        .otherwise(F.lit("OPEN"))
    )
    return n.select(
        F.col("n_nationkey").alias("pipeline_id"),
        state.alias("state"),
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(1)).otherwise(F.lit(3)).alias(
            "replication_factor"
        ),
        (F.col("n_nationkey") % 7 + 1).alias("leader_datanode_id"),
    )


# ---------------------------------------------------------------------------
# pipeline_details: the pipeline-manager state detail — PipelineState
# including ALLOCATED plus the creation timestamp (epoch millis), the
# inputs of the background scrubber (SCMPipelineManager.java:511-545).
# Separate view from `pipelines` (whose OPEN/CLOSED/DORMANT vocabulary
# feeds a6/p1/sm1) so those hashes stay put. Derived from supplier so
# the scrubber has a realistically sized plane (one pipeline per
# supplier id; creation time deterministic in a 100-day window).
# ---------------------------------------------------------------------------

def pipeline_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "pipeline_details", spark, sf_dir,
        lambda: _build_pipeline_details(spark, sf_dir),
    )


def _build_pipeline_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    state = (
        F.when(k % 7 == 0, F.lit("ALLOCATED"))
        .when(k % 7 == 1, F.lit("CLOSED"))
        .when(k % 7 == 2, F.lit("DORMANT"))
        .otherwise(F.lit("OPEN"))
    )
    return s.select(
        k.alias("pipeline_id"),
        state.alias("state"),
        F.when(k % 5 == 0, F.lit(1)).otherwise(F.lit(3)).alias(
            "replication_factor"
        ),
        (F.lit(1_600_000_000_000) + k % 100 * F.lit(86_400_000)).alias(
            "created_ms"
        ),
    )


PIPELINE_DETAILS_CTE = """
pipeline_details AS (
  SELECT s_suppkey AS pipeline_id,
         CASE WHEN s_suppkey % 7 = 0 THEN 'ALLOCATED'
              WHEN s_suppkey % 7 = 1 THEN 'CLOSED'
              WHEN s_suppkey % 7 = 2 THEN 'DORMANT'
              ELSE 'OPEN' END AS state,
         CASE WHEN s_suppkey % 5 = 0 THEN 1 ELSE 3 END AS replication_factor,
         1600000000000 + s_suppkey % 100 * 86400000 AS created_ms
  FROM supplier
)"""


PIPELINES_CTE = """
pipelines AS (
  SELECT
    n_nationkey AS pipeline_id,
    CASE WHEN n_nationkey % 4 = 0 THEN 'CLOSED'
         WHEN n_nationkey % 4 = 1 THEN 'DORMANT'
         ELSE 'OPEN' END AS state,
    CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 3 END AS replication_factor,
    n_nationkey % 7 + 1 AS leader_datanode_id
  FROM nation
)"""


# ---------------------------------------------------------------------------
# om_buckets: the bucketTable with LINK buckets (OmBucketInfo
# sourceVolume/sourceBucket, OmBucketInfo.java:42-106). Base rows = the
# distinct namespace buckets (non-links, NULL sources); plus one link
# per base bucket under vol_links, a 2-hop chain, and a 2-cycle so the
# resolveBucketLink walk (chains, loop detection) has verifiable work.
# ---------------------------------------------------------------------------

def om_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "om_buckets", spark, sf_dir, lambda: _build_om_buckets(spark, sf_dir)
    )


def _build_om_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = om_keys(spark, sf_dir).select("volume", "bucket").distinct()
    nulls = base.select(
        "volume",
        "bucket",
        F.lit(None).cast("string").alias("source_volume"),
        F.lit(None).cast("string").alias("source_bucket"),
    )
    links = base.select(
        F.lit("vol_links").alias("volume"),
        F.concat(F.lit("ln_"), F.col("volume"), F.lit("_"), F.col("bucket")).alias(
            "bucket"
        ),
        F.col("volume").alias("source_volume"),
        F.col("bucket").alias("source_bucket"),
    )
    extra = spark.createDataFrame(
        [
            ("vol_links", "chain2", "vol_links", "ln_vol_a_bkt_f"),
            ("vol_links", "loop_x", "vol_links", "loop_y"),
            ("vol_links", "loop_y", "vol_links", "loop_x"),
        ],
        "volume string, bucket string, source_volume string, source_bucket string",
    )
    return nulls.unionByName(links).unionByName(extra)


OM_BUCKETS_CTE = """
om_buckets AS (
  SELECT volume, bucket, CAST(NULL AS VARCHAR) AS source_volume,
         CAST(NULL AS VARCHAR) AS source_bucket
  FROM (SELECT DISTINCT volume, bucket FROM om_keys)
  UNION ALL
  SELECT 'vol_links', concat('ln_', volume, '_', bucket), volume, bucket
  FROM (SELECT DISTINCT volume, bucket FROM om_keys)
  UNION ALL SELECT 'vol_links', 'chain2', 'vol_links', 'ln_vol_a_bkt_f'
  UNION ALL SELECT 'vol_links', 'loop_x', 'vol_links', 'loop_y'
  UNION ALL SELECT 'vol_links', 'loop_y', 'vol_links', 'loop_x'
)"""


# audit_log: orders → audit rows (ref commands.properties:18-22):
# user ← customer id bucketized (skewed), op ← orderpriority,
# result ← orderstatus, accessed resource path (real OM audit entries
# carry volume/bucket/key params, AuditMessage) ← deterministic
# namespace coordinates so prefix rollups have real work.
def audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("audit_log", spark, sf_dir, lambda: _build_audit_log(spark, sf_dir))


def _build_audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    vol = F.element_at(
        F.array(F.lit("vol_a"), F.lit("vol_n"), F.lit("vol_r")),
        (F.col("o_orderkey") % 3 + 1).cast("int"),
    )
    bkt = F.when(F.col("o_custkey") % 2 == 0, F.lit("bkt_f")).otherwise(
        F.lit("bkt_o")
    )
    return o.select(
        F.col("o_orderdate").alias("datetime"),
        F.concat(F.lit("user_"), F.col("o_custkey") % 37).alias("user"),
        F.col("o_orderpriority").alias("op"),
        F.when(F.col("o_orderstatus") == "F", F.lit("SUCCESS"))
        .otherwise(F.lit("FAILURE"))
        .alias("result"),
        F.col("o_totalprice"),
        vol.alias("volume"),
        bkt.alias("bucket"),
        F.concat(F.lit("dir"), F.col("o_orderkey") % 7).alias("key_dir"),
    )


AUDIT_LOG_CTE = """
audit_log AS (
  SELECT
    o_orderdate AS datetime,
    concat('user_', o_custkey % 37) AS "user",
    o_orderpriority AS op,
    CASE WHEN o_orderstatus = 'F' THEN 'SUCCESS' ELSE 'FAILURE' END AS result,
    o_totalprice,
    CASE o_orderkey % 3 WHEN 0 THEN 'vol_a' WHEN 1 THEN 'vol_n'
         ELSE 'vol_r' END AS volume,
    CASE WHEN o_custkey % 2 = 0 THEN 'bkt_f' ELSE 'bkt_o' END AS bucket,
    concat('dir', o_orderkey % 7) AS key_dir
  FROM orders
)"""


# ---------------------------------------------------------------------------
# FSO planes: directoryTable / fileTable (OmDirectoryInfo; OMDBDefinition
# .java:147-172). Derivation law + CTE twins live in
# plans/extended_queries.py (FSO_DIRS_CTE/FSO_FILES_CTE); these wrappers
# add the per-session memo and the snapshot routing so J3-family queries
# read a materialized plane instead of re-deriving per run.
# ---------------------------------------------------------------------------

def fso_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("fso_dirs", spark, sf_dir, lambda: _build_fso_dirs(spark, sf_dir))


def _build_fso_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_ozone_spark.plans.extended_queries import _fso_dirs

    return _fso_dirs(spark, sf_dir)


def fso_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("fso_files", spark, sf_dir, lambda: _build_fso_files(spark, sf_dir))


def _build_fso_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_ozone_spark.plans.extended_queries import _fso_files

    return _fso_files(spark, sf_dir)


def with_ctes(*ctes: str, body: str) -> str:
    """Assemble a DuckDB oracle query from shared CTE fragments."""
    joined = ",\n".join(c.strip() for c in ctes)
    return f"WITH {joined}\n{body}"


# ---------------------------------------------------------------------------
# dedup_corpus: documents + injected duplicates, so the dedup operators
# have verifiable work to do (the driver corpus is all-distinct):
#  - exact copies   (doc_id % 7 == 0  → doc_id + 2_000_000, same text)
#  - near copies    (doc_id % 10 == 0 → doc_id + 1_000_000, text + ' extra token')
# ---------------------------------------------------------------------------

def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized("dedup_corpus", spark, sf_dir, lambda: _build_dedup_corpus(spark, sf_dir))


def _build_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    exact_copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang", "source"
    )
    near_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        "lang",
        "source",
    )
    return docs.unionByName(exact_copies).unionByName(near_copies)


DEDUP_CORPUS_CTE = """
dedup_corpus AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text, lang, source FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, concat(text, ' extra token'), lang, source
  FROM documents WHERE doc_id % 10 = 0
)"""


# ---------------------------------------------------------------------------
# embedding_corpus: embeddings + injected near-duplicates (vec_id + 1e6,
# each component ×1.01 — scaling preserves cosine exactly, so the
# near-dup detector has verifiable positives; random pairs max ~0.4).
# ---------------------------------------------------------------------------

def embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "embedding_corpus", spark, sf_dir,
        lambda: _build_embedding_corpus(spark, sf_dir),
    )


def _build_embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.01)).cast("float")).alias(
            "embedding"
        ),
    )
    return emb.unionByName(copies)


EMBEDDING_CORPUS_CTE = """
embedding_corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         CAST(list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT)) AS FLOAT[])
  FROM embeddings WHERE vec_id % 10 = 0
)"""


def register_views(spark: SparkSession, sf_dir: str, derived: bool = True) -> list[str]:
    """Expose the whole data model to ``spark.sql(...)``: every raw
    driver table plus (optionally) the derived namespace tables — the
    SQL front door for users of the engine. Returns the view names.

    Derived views are backed by the per-session memo (persisted), so
    repeated SQL against them does not re-derive.
    """
    names = []
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    if derived:
        for name, fn in (
            ("om_keys", om_keys),
            ("om_buckets", om_buckets),
            ("om_events", om_events),
            ("containers", containers),
            ("container_replicas", container_replicas),
            ("rm_replicas", rm_replicas),
            ("rm_container_details", rm_container_details),
            ("rm_replica_details", rm_replica_details),
            ("replica_observations", replica_observations),
            ("deleted_block_txns", deleted_block_txns),
            ("datanodes", datanodes),
            ("pipelines", pipelines),
            ("pipeline_details", pipeline_details),
            ("pipeline_members", pipeline_members),
            ("audit_log", audit_log),
            ("dedup_corpus", dedup_corpus),
            ("embedding_corpus", embedding_corpus),
            ("fso_dirs", fso_dirs),
            ("fso_files", fso_files),
        ):
            fn(spark, sf_dir).createOrReplaceTempView(name)
            names.append(name)
    return names


# ---------------------------------------------------------------------------
# ACL fixtures for the native-authorizer chain (operators/acl.py).
# Rights are bitmasks over ACLType ordinals (IAccessAuthorizer.java:48-57):
# READ=1 WRITE=2 CREATE=4 LIST=8 DELETE=16 READ_ACL=32 WRITE_ACL=64
# ALL=128 NONE=256.
# Volume/bucket acls are small literal tables; key acls derive one
# USER-owner row per key (owner = data_size % 3 → alice/bob/carol,
# rights READ|DELETE) plus a WORLD READ row for replicated keys —
# deterministic in both engines.
# ---------------------------------------------------------------------------

ACL_VOLUME_ROWS = [
    ("vol_a", "USER", "alice", 2, "ACCESS"),    # WRITE
    ("vol_n", "GROUP", "eng", 3, "ACCESS"),     # READ|WRITE
    ("vol_r", "WORLD", "", 256, "ACCESS"),      # NONE — denies everyone
]

ACL_BUCKET_ROWS = [
    ("vol_a", "bkt_f", "WORLD", "", 128, "ACCESS"),   # ALL
    ("vol_a", "bkt_o", "USER", "alice", 1, "ACCESS"), # READ only
    ("vol_n", "bkt_f", "GROUP", "eng", 2, "ACCESS"),  # WRITE
    ("vol_n", "bkt_o", "USER", "bob", 128, "ACCESS"), # ALL, wrong user
    ("vol_r", "bkt_f", "WORLD", "", 128, "ACCESS"),
    ("vol_r", "bkt_o", "WORLD", "", 128, "ACCESS"),
]

ACL_PREFIX_ROWS = [
    # dir-style acl'd prefixes: no KEY path ever equals them, so the
    # exact-path prefix gate (PrefixManagerImpl.java:230-256) passes —
    # the deny path is unit-tested with a synthetic exact match.
    ("/vol_a/bkt_f/dir3/", "WORLD", "", 128, "ACCESS"),
    ("/vol_n/bkt_f/dir5/", "USER", "alice", 256, "ACCESS"),
]


def volume_acls(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ACL_VOLUME_ROWS, "volume string, type string, name string, rights long, scope string"
    )


def bucket_acls(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ACL_BUCKET_ROWS,
        "volume string, bucket string, type string, name string, rights long, scope string",
    )


def prefix_acls(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ACL_PREFIX_ROWS, "prefix string, type string, name string, rights long, scope string"
    )


def key_acls(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = om_keys(spark, sf_dir)
    owner = F.element_at(
        F.array(F.lit("alice"), F.lit("bob"), F.lit("carol")),
        (F.col("data_size") % 3 + 1).cast("int"),
    )
    owner_rows = keys.select(
        "row_key",
        F.lit("USER").alias("type"),
        owner.alias("name"),
        F.lit(17).cast("long").alias("rights"),  # READ|DELETE
        F.lit("ACCESS").alias("scope"),
    )
    world_rows = keys.filter(F.col("replication_factor") == 3).select(
        "row_key",
        F.lit("WORLD").alias("type"),
        F.lit("").alias("name"),
        F.lit(1).cast("long").alias("rights"),  # READ
        F.lit("ACCESS").alias("scope"),
    )
    return owner_rows.unionByName(world_rows)


def _acl_values(rows: list, cols: str) -> str:
    vals = ", ".join(
        "(" + ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in r) + ")"
        for r in rows
    )
    return f"({cols}) AS (VALUES {vals})"


ACL_VOLUME_CTE = "volume_acls" + _acl_values(
    ACL_VOLUME_ROWS, "volume, type, name, rights, scope"
)
ACL_BUCKET_CTE = "bucket_acls" + _acl_values(
    ACL_BUCKET_ROWS, "volume, bucket, type, name, rights, scope"
)
ACL_PREFIX_CTE = "prefix_acls" + _acl_values(
    ACL_PREFIX_ROWS, "prefix, type, name, rights, scope"
)

KEY_ACLS_CTE = """
key_acls AS (
  SELECT row_key, 'USER' AS type,
         ['alice', 'bob', 'carol'][CAST(data_size % 3 + 1 AS INTEGER)] AS name,
         17 AS rights, 'ACCESS' AS scope
  FROM om_keys
  UNION ALL
  SELECT row_key, 'WORLD' AS type, '' AS name, 1 AS rights, 'ACCESS' AS scope
  FROM om_keys WHERE replication_factor = 3
)"""


# ---------------------------------------------------------------------------
# s3_native_bucket_acls: the native OzoneAcl rows on each bucket that the
# S3 gateway's `GET /bucket?acl` translates (BucketEndpoint.java:383-421;
# S3Acl.ozoneNativeAclToS3Acl, S3Acl.java:175-219). Deterministic per
# bucket: an owner USER with ALL in BOTH scopes (the ACCESS/DEFAULT pair
# the gateway's grantSet dedups), a secondary USER whose rights cycle
# through the five S3-mappable bitmask shapes (plus the unmappable
# READ-only lane the gateway drops), and a GROUP row (non-CanonicalUser —
# dropped by the identity filter). Rights bitmask ordinals as above.
# ---------------------------------------------------------------------------

def s3_native_bucket_acls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        "s3_native_bucket_acls", spark, sf_dir,
        lambda: _build_s3_native_bucket_acls(spark, sf_dir),
    )


def _build_s3_native_bucket_acls(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = om_keys(spark, sf_dir).select("volume", "bucket").distinct()
    lane = (
        F.ascii(F.substring(F.col("volume"), -1, 1))
        + F.ascii(F.substring(F.col("bucket"), -1, 1))
    ) % 5
    sec_rights = (
        F.when(lane == 0, F.lit(9))     # READ|LIST        -> READ
        .when(lane == 1, F.lit(22))     # WRITE|CREATE|DELETE -> WRITE
        .when(lane == 2, F.lit(32))     # READ_ACL         -> READ_ACP
        .when(lane == 3, F.lit(64))     # WRITE_ACL        -> WRITE_ACP
        .otherwise(F.lit(1))            # READ only        -> unmappable
    ).cast("long")
    owner = F.concat(F.lit("owner-"), F.col("volume"))
    sec_name = F.concat(F.lit("user-"), lane.cast("string"))

    def rows(typ, name, rights, scope):
        return b.select(
            "volume", "bucket",
            F.lit(typ).alias("type"), name.alias("name"),
            rights.alias("rights"), F.lit(scope).alias("scope"),
        )

    return (
        rows("USER", owner, F.lit(128).cast("long"), "ACCESS")
        .unionByName(rows("USER", owner, F.lit(128).cast("long"), "DEFAULT"))
        .unionByName(rows("USER", sec_name, sec_rights, "ACCESS"))
        .unionByName(rows("GROUP", F.lit("eng"), F.lit(128).cast("long"), "ACCESS"))
    )


S3_NATIVE_BUCKET_ACLS_CTE = """
s3_native_bucket_acls AS (
  WITH b AS (SELECT DISTINCT volume, bucket FROM om_keys),
  lanes AS (
    SELECT volume, bucket,
           (ascii(substring(volume, -1, 1))
            + ascii(substring(bucket, -1, 1))) % 5 AS lane
    FROM b
  )
  SELECT volume, bucket, 'USER' AS type,
         concat('owner-', volume) AS name, 128 AS rights, 'ACCESS' AS scope
  FROM lanes
  UNION ALL
  SELECT volume, bucket, 'USER', concat('owner-', volume), 128, 'DEFAULT'
  FROM lanes
  UNION ALL
  SELECT volume, bucket, 'USER', concat('user-', lane),
         CASE lane WHEN 0 THEN 9 WHEN 1 THEN 22 WHEN 2 THEN 32
                   WHEN 3 THEN 64 ELSE 1 END,
         'ACCESS'
  FROM lanes
  UNION ALL
  SELECT volume, bucket, 'GROUP', 'eng', 128, 'ACCESS'
  FROM lanes
)"""
