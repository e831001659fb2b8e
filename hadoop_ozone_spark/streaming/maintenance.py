"""Structured Streaming incremental maintenance — the Spark shape of the
reference's Recon pipeline (SURVEY §3.3).

Reference flow: OM emits a CDC feed (``getDBUpdates``,
OzoneManager.java:3660-3670) → OMDBUpdatesHandler decodes typed events
with old values (OMDBUpdatesHandler.java:43-120) → ReconOmTasks maintain
materialized aggregates incrementally (``process``) with a full-rebuild
fallback (``reprocess``) (ReconTaskControllerImpl.java:80-200).

Spark shape:
- the event feed is a file/Delta-less parquet stream read with
  ``readStream`` (at 100 TB: Kafka or a DSv2 source — same plan);
- each Recon task is an update-mode streaming aggregation or a
  ``foreachBatch`` MERGE into a parquet mart;
- ``reprocess`` ≡ running the identical aggregation as a batch query
  over the snapshot — tests assert process ≡ reprocess, exactly the
  reference's TestFileSizeCountTask scenarios;
- exactly-once: seqno-keyed idempotent MERGE + checkpointLocation.

UPDATE retraction (NSSummaryTask.java:117-126): an UPDATE event carries
old_value; its contribution is (−old, +new) in the same batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# S4 event schema (ref OMDBUpdateEvent.java:28-160): old_size carries the
# UPDATE retraction payload (struct-typed old_value collapses to the
# size field for the count/bytes marts).
EVENT_SCHEMA = StructType(
    [
        StructField("seqno", LongType()),
        StructField("op", StringType()),
        StructField("row_key", StringType()),
        StructField("data_size", LongType()),
        StructField("old_size", LongType()),
        StructField("event_time", TimestampType()),
    ]
)


def read_event_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S4 as a stream: parquet-file micro-batches stand in for the RPC
    feed; swap for Kafka at deployment without touching the queries."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )


def size_delta(df: DataFrame) -> DataFrame:
    """Signed contributions: PUT +size, DELETE −size, UPDATE −old +new
    (ref FileSizeCountTask.java:115-157 — UPDATE decrements the old bin
    and increments the new one)."""
    return df.select(
        "seqno",
        "row_key",
        "event_time",
        F.when(F.col("op") == "PUT", F.col("data_size"))
        .when(F.col("op") == "DELETE", -F.col("data_size"))
        .otherwise(F.col("data_size") - F.coalesce(F.col("old_size"), F.lit(0)))
        .alias("bytes_delta"),
        F.when(F.col("op") == "PUT", F.lit(1))
        .when(F.col("op") == "DELETE", F.lit(-1))
        .otherwise(F.lit(0))
        .alias("count_delta"),
    )


def streaming_table_counts(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """A2/A4: running net counts + bytes in update mode."""
    return (
        size_delta(events.withWatermark("event_time", watermark))
        .groupBy()
        .agg(
            F.sum("count_delta").alias("net_count"),
            F.sum("bytes_delta").alias("net_bytes"),
            F.max("seqno").alias("last_seqno"),
        )
    )


def _mart_versions(spark: SparkSession, mart_dir: str) -> list[int]:
    """Batch ids of COMPLETE mart versions (subdirs ``batch-<id>`` with a
    ``_SUCCESS`` marker), ascending. Hadoop FS API so local/HDFS/S3A
    behave the same."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(mart_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch-"):
            ok = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if fs.exists(ok):
                out.append(int(name[len("batch-"):]))
    return sorted(out)


def read_mart(spark: SparkSession, mart_dir: str) -> DataFrame | None:
    """Read the newest complete version of a versioned mart (None if no
    complete version exists yet)."""
    versions = _mart_versions(spark, mart_dir)
    if not versions:
        return None
    return spark.read.parquet(f"{mart_dir}/batch-{versions[-1]}")


def run_foreachbatch_merge(
    events: DataFrame,
    mart_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """A2 as an idempotent foreachBatch MERGE into a parquet mart.

    Signed deltas are commutative, so batch arrival order doesn't matter;
    the only hazard is replay after failure. foreachBatch re-delivers
    with the SAME batch_id, so the mart stores the last applied batch_id
    and replays become no-ops — the Spark analogue of the reference's
    "task failure → rerun from a consistent point" contract
    (ReconTaskControllerImpl). max(seqno) is carried as the feed
    high-watermark for observability/snapshot-resync decisions.

    Crash safety: each batch's totals are written to a NEW versioned
    subdir (``batch-<id>``, complete iff ``_SUCCESS`` exists) and old
    versions are pruned only after the new one commits — a crash
    mid-write leaves the previous version intact, never a half-deleted
    mart. Readers use :func:`read_mart` (newest complete version).
    Single-writer assumed — one streaming query owns a mart directory,
    as one Recon task owns its table in the reference.
    """

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        deltas = (
            size_delta(batch)
            .groupBy()
            .agg(
                F.sum("count_delta").alias("net_count"),
                F.sum("bytes_delta").alias("net_bytes"),
                F.max("seqno").alias("max_seqno"),
            )
        )
        prev_df = read_mart(spark, mart_dir)
        prev = prev_df.first() if prev_df is not None else None
        new = deltas.first()
        if new is None or new["max_seqno"] is None:
            return
        if prev is not None and batch_id <= prev["last_batch_id"]:
            return  # replayed batch — idempotent no-op
        merged = {
            "net_count": (prev["net_count"] if prev else 0) + new["net_count"],
            "net_bytes": (prev["net_bytes"] if prev else 0) + new["net_bytes"],
            "last_seqno": max(prev["last_seqno"] if prev else 0, new["max_seqno"]),
            "last_batch_id": batch_id,
        }
        # the one row as JVM literals: createDataFrame over a Python list
        # ships it through a PythonRDD, which forks a Python worker
        spark.range(1, numPartitions=1).select(
            *[F.lit(v).cast("long").alias(k) for k, v in merged.items()]
        ).write.mode("overwrite").parquet(f"{mart_dir}/batch-{batch_id}")
        # prune superseded versions AFTER the new one is complete
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for v in _mart_versions(spark, mart_dir):
            if v < batch_id:
                p = jvm.org.apache.hadoop.fs.Path(f"{mart_dir}/batch-{v}")
                p.getFileSystem(hconf).delete(p, True)

    return (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_file_size_histogram(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """A1/A2 combined: per-size-bin running counts in update mode
    (the FILE_COUNT_BY_SIZE mart maintained incrementally).

    UPDATE is retract+emit ACROSS BINS (FileSizeCountTask.java:115-157:
    decrement the old-size bin, increment the new-size bin) — each event
    explodes into its signed per-bin contributions.
    """
    from hadoop_ozone_spark.functions.binning import file_size_upper_bound

    wm = events.withWatermark("event_time", watermark)
    new_bin = file_size_upper_bound(F.coalesce(F.col("data_size"), F.lit(0)))
    old_bin = file_size_upper_bound(F.coalesce(F.col("old_size"), F.lit(0)))
    contrib = F.struct(new_bin.alias("file_size"), F.lit(1).alias("delta"))
    retract = F.struct(old_bin.alias("file_size"), F.lit(-1).alias("delta"))
    remove = F.struct(new_bin.alias("file_size"), F.lit(-1).alias("delta"))
    contributions = (
        F.when(F.col("op") == "PUT", F.array(contrib))
        .when(F.col("op") == "DELETE", F.array(remove))
        .otherwise(  # UPDATE: −old bin, +new bin (no-op only if old is null)
            F.when(F.col("old_size").isNull(), F.array().cast("array<struct<file_size:long,delta:int>>"))
            .otherwise(F.array(retract, contrib))
        )
    )
    signed = wm.select(F.explode(contributions).alias("c")).select("c.file_size", "c.delta")
    return signed.groupBy("file_size").agg(F.sum("delta").alias("cnt"))


def default_container_of(key: Column | str = "row_key", n_containers: int = 8) -> Column:
    """Stand-in container assignment for event feeds that don't carry
    location lists: stable hash of the key. In the reference the
    container ids arrive WITH the event (OmKeyInfo's location groups,
    OMDBUpdatesHandler.java:62-110); any per-event Column works here."""
    return F.pmod(F.xxhash64(key), F.lit(n_containers))


def container_key_delta(
    events: DataFrame, container_expr: Column | None = None
) -> DataFrame:
    """J4 incremental (ContainerKeyMapperTask.process): signed
    container-membership deltas per event — PUT +1 key / +bytes,
    DELETE −1 / −bytes, UPDATE 0 keys but −old+new bytes (a key rewrite
    stays in its container at this granularity; a relocation arrives as
    DELETE + PUT in the feed, exactly how the reference task treats
    location-list changes)."""
    cid = container_expr if container_expr is not None else default_container_of()
    member = (
        F.when(F.col("op") == "PUT", F.lit(1))
        .when(F.col("op") == "DELETE", F.lit(-1))
        .otherwise(F.lit(0))
    )
    size = F.coalesce(F.col("data_size"), F.lit(0))
    old = F.coalesce(F.col("old_size"), F.lit(0))
    bytes_d = (
        F.when(F.col("op") == "PUT", size)
        .when(F.col("op") == "DELETE", -size)
        .otherwise(size - old)
    )
    return events.select(
        "seqno",
        cid.alias("container_id"),
        "row_key",
        member.alias("member_delta"),
        bytes_d.alias("bytes_delta"),
        "event_time",
    )


def streaming_container_key_index(
    events: DataFrame,
    container_expr: Column | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """J4 as a streaming aggregate: running (num_keys, total_bytes) per
    container in update mode — the containerKeyTable mart maintained
    incrementally instead of by reprocess. One stateful groupBy keyed
    by container_id; map-side partial sums keep state rows at
    |containers|, not |events|."""
    wm = events.withWatermark("event_time", watermark)
    return (
        container_key_delta(wm, container_expr)
        .groupBy("container_id")
        .agg(
            F.sum("member_delta").alias("num_keys"),
            F.sum("bytes_delta").alias("total_bytes"),
        )
    )


# S4 replica-report schema (ICR/FCR stream, ReconContainerManager.java:
# 289-336: every incremental container report upserts/removes a replica
# row). op ∈ ADD | REMOVE.
REPLICA_REPORT_SCHEMA = StructType(
    [
        StructField("seqno", LongType()),
        StructField("op", StringType()),
        StructField("container_id", LongType()),
        StructField("datanode_id", LongType()),
        StructField("event_time", TimestampType()),
    ]
)


def read_replica_report_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    return (
        spark.readStream.schema(REPLICA_REPORT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_replica_counts(
    reports: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """J2's input maintained incrementally: running live-replica count
    per container from the ADD/REMOVE report stream (the
    ContainerHealthTask re-reads the full replica table each run,
    ContainerHealthTask.java; the streaming shape pays O(|batch|) per
    trigger instead). Update-mode stateful groupBy keyed by
    container_id — state is |containers| rows.
    """
    signed = (
        F.when(F.col("op") == "ADD", F.lit(1))
        .when(F.col("op") == "REMOVE", F.lit(-1))
        .otherwise(F.lit(0))
    )
    return (
        reports.withWatermark("event_time", watermark)
        .select("container_id", signed.alias("delta"), "seqno")
        .groupBy("container_id")
        .agg(
            F.sum("delta").alias("replica_count"),
            # high-water mark: lets a sink pick the newest update row
            # deterministically (max_by) and dedup replayed batches
            F.max("seqno").alias("last_seqno"),
        )
    )


def classify_health_batch(
    replica_counts: DataFrame, containers_df: DataFrame
) -> DataFrame:
    """The per-batch health classification for a foreachBatch sink over
    ``streaming_replica_counts``: join the (broadcast) container dim and
    apply the count-vs-rf law (ContainerHealthStatus.java:85-113 —
    MISSING / UNDER / OVER / HEALTHY; rack placement needs the full
    topology join and stays a batch/J2 concern). Suitable for MERGE
    into the unhealthy-containers mart each trigger.
    """
    dim = containers_df.select("container_id", "state", "replication_factor")
    cnt = F.coalesce(F.col("replica_count"), F.lit(0))
    # containers on the left (every live container classifies even with
    # zero reports — the MISSING case); both sides are container-keyed,
    # co-located under the bucketed layout, so no broadcast hint needed
    return (
        dim.join(replica_counts, "container_id", "left")
        .filter(F.col("state") != "DELETED")
        .select(
            "container_id",
            "state",
            "replication_factor",
            cnt.alias("replica_count"),
            F.when(cnt == 0, F.lit("MISSING"))
            .when(cnt < F.col("replication_factor"), F.lit("UNDER_REPLICATED"))
            .when(cnt > F.col("replication_factor"), F.lit("OVER_REPLICATED"))
            .otherwise(F.lit("HEALTHY"))
            .alias("health"),
        )
    )


def streaming_live_replicas(
    reports: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """The live replica SET (not just counts) maintained incrementally
    from the ADD/REMOVE report stream: per (container, datanode) the
    latest op wins (seqno order — ReconContainerManager.java:289-336
    upserts/removes exactly one row per report). Update-mode stateful
    groupBy keyed by the pair; state is |replicas| rows. A sink keeps
    rows whose last op is ADD (``is_live``) — the identity-carrying
    input the replication ACTION planner needs, where the count-only
    twin (:func:`streaming_replica_counts`) feeds classification.
    """
    return (
        reports.withWatermark("event_time", watermark)
        .groupBy("container_id", "datanode_id")
        .agg(
            F.max_by("op", "seqno").alias("last_op"),
            F.max("seqno").alias("last_seqno"),
        )
        .withColumn("is_live", F.col("last_op") == "ADD")
    )


def plan_actions_batch(
    live_replicas: DataFrame,
    touched_containers: DataFrame,
    containers_df: DataFrame,
    datanodes_df: DataFrame,
) -> DataFrame:
    """Incremental ReplicationManager planning for a foreachBatch sink:
    re-plan ONLY the containers touched by this micro-batch against the
    maintained live replica set — the streaming shape of
    operators/scm.replication_actions.

    The reference's ReplicationMonitor rescans every container each
    interval (ReplicationManager.java:294-310 run loop); the streaming
    shape pays O(|touched| containers) per trigger instead, while the
    free-space target ranking is still computed over the FULL live set
    + container catalog, so incremental action choices match what a
    full batch plan would emit for the same containers (pinned by
    test_stateful_streaming's actions stream≡batch test).

    ``live_replicas``: (container_id, datanode_id) currently-live rows
    (e.g. the ``is_live`` output of :func:`streaming_live_replicas`);
    ``touched_containers``: 1-column frame of container ids in the
    batch.
    """
    from hadoop_ozone_spark.operators import scm

    # Defensive contract guard (ADVICE r5): the docstring advertises the
    # streaming_live_replicas sink as the expected input, and that sink
    # carries REMOVEd rows with is_live=false — filter them here so a
    # caller passing the sink table unfiltered doesn't silently plan
    # against dead replicas.
    if "is_live" in live_replicas.columns:
        live_replicas = live_replicas.filter(F.col("is_live"))
    live = live_replicas.select("container_id", "datanode_id")
    touched = touched_containers.select("container_id").distinct()
    # all three planner inputs are micro-batch/dim sized (O(|touched|)
    # replicas+containers, |datanodes| candidates); eager
    # localCheckpoints cut their shared lineage — the pruned subtrees
    # and the candidate subtree all descend from `live`/`touched`, and
    # re-joining them inside the planner would otherwise collide on
    # attribute ids (Spark self-join analysis)
    pruned_replicas = live.join(
        F.broadcast(touched), "container_id", "leftsemi"
    ).localCheckpoint(eager=True)
    pruned_containers = containers_df.join(
        F.broadcast(touched), "container_id", "leftsemi"
    ).localCheckpoint(eager=True)
    candidates = (
        scm.node_free_space(live, containers_df, datanodes_df)
        .filter(
            (F.col("node_state") == "HEALTHY")
            & (F.col("op_state") == "IN_SERVICE")
        )
        .localCheckpoint(eager=True)
    )
    return scm.replication_actions(
        pruned_containers, pruned_replicas, datanodes_df, candidates=candidates
    )


# Replica STATE report stream (the ICR payload carries the replica's
# state and BCSID — ContainerReplicaProto; ReconContainerManager
# upserts the full replica row per report). The close/force-close
# dispatch needs state + sequence, not just liveness.
REPLICA_STATE_REPORT_SCHEMA = StructType(
    [
        StructField("seqno", LongType()),
        StructField("container_id", LongType()),
        StructField("datanode_id", LongType()),
        StructField("replica_state", StringType()),
        StructField("sequence_id", LongType()),
        StructField("event_time", TimestampType()),
    ]
)


def read_replica_state_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    return (
        spark.readStream.schema(REPLICA_STATE_REPORT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_replica_states(
    reports: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Latest-report-wins replica state per (container, datanode) —
    the maintained input of the close dispatch. Update-mode stateful
    groupBy; state is |replicas| rows carrying (state, BCSID)."""
    return (
        reports.withWatermark("event_time", watermark)
        .groupBy("container_id", "datanode_id")
        .agg(
            F.max_by("replica_state", "seqno").alias("replica_state"),
            F.max_by("sequence_id", "seqno").alias("sequence_id"),
            F.max("seqno").alias("last_seqno"),
        )
    )


def plan_close_batch(
    replica_states: DataFrame,
    touched_containers: DataFrame,
    container_details: DataFrame,
) -> DataFrame:
    """Incremental close/force-close dispatch for a foreachBatch sink:
    re-run operators/scm.close_actions over ONLY the containers touched
    by this micro-batch, against the maintained replica-state set. The
    dispatch is per-container-local (quorum, max-BCSID, and the
    unstable gate all aggregate within one container), so pruning by
    touched container id loses nothing — incremental output ≡ the
    batch dispatch restricted to the same containers (pinned by
    test_stateful_streaming)."""
    from hadoop_ozone_spark.operators import scm

    touched = touched_containers.select("container_id").distinct()
    pruned_states = (
        replica_states.select(
            "container_id", "datanode_id", "replica_state", "sequence_id"
        )
        .join(F.broadcast(touched), "container_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    pruned_containers = container_details.join(
        F.broadcast(touched), "container_id", "leftsemi"
    ).localCheckpoint(eager=True)
    return scm.close_actions(pruned_containers, pruned_states)


def plan_delete_batch(
    replica_states: DataFrame,
    touched_containers: DataFrame,
    container_details: DataFrame,
    keys: DataFrame,
) -> DataFrame:
    """Incremental RM4 delete-plane planning for a foreachBatch sink —
    the delete twin of :func:`plan_close_batch` (VERDICT r5 #6):
    re-run operators/scm.delete_actions over ONLY the containers
    touched by this micro-batch.

    Every RM4 branch is container-local — the replica rollup, the
    DELETING dispatch, and the CLOSED+empty gate all aggregate within
    one container — so pruning each input by touched container id
    loses nothing. That includes the KEY-plane emptiness gate
    (isContainerEmpty, ReplicationManager.java:503-510): container
    emptiness only consults keys REFERENCING that container, so the
    namespace plane prunes to a semi-join on the touched set and the
    per-trigger cost is O(|touched|-keyed rows), not O(|namespace|).
    Incremental output ≡ the batch delete plane restricted to the same
    containers (pinned by test_stateful_streaming).
    """
    from hadoop_ozone_spark.operators import scm

    touched = touched_containers.select("container_id").distinct()
    pruned_states = (
        replica_states.select("container_id", "datanode_id", "replica_state")
        .join(F.broadcast(touched), "container_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    pruned_containers = container_details.join(
        F.broadcast(touched), "container_id", "leftsemi"
    ).localCheckpoint(eager=True)
    pruned_keys = (
        keys.select("container_id")
        .join(F.broadcast(touched), "container_id", "leftsemi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return scm.delete_actions(pruned_containers, pruned_states, pruned_keys)
