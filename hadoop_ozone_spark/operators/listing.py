"""Namespace listing operators — the reference's universal access path.

W1 paginated ordered scan (ref OmMetadataManagerImpl.listKeys:843-966,
listBuckets:760-828, listVolumes:993-1036), S1 prefix scan (:920-942),
S2 point lookup (KeyManagerImpl.lookupKey:641-700), F1/F2 prefix & range
predicates, W3 immediate-child listStatus (KeyManagerImpl.java:2357-2411).

Physical shape at scale: the snapshot table is partitioned by
``(volume, bucket)`` and sorted by ``key`` within files, so

- F1 ``startswith(prefix)`` prunes partitions (volume/bucket are literal
  prefixes of ``row_key``) and skips parquet row groups via min/max;
- W1's ``orderBy(key).limit(n)`` compiles to ``TakeOrderedAndProject``
  (per-partition top-k + driver merge of n rows — no global sort, no
  shuffle of the full namespace);
- pagination is stateless: the continuation token is the last key
  (``key > token`` predicate), identical to the reference's
  seek(startKey) resume — no server state, works from any executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_ozone_spark import scratch
from hadoop_ozone_spark.functions.paths import immediate_child, is_file

DEFAULT_MAX_KEYS = 1000  # ref: RPC page size, OzoneBucket.java:892-895


def prefix_scan(keys: DataFrame, prefix: str, key_col: str = "row_key") -> DataFrame:
    """S1/F1: ``seek(prefix)`` + bounded forward scan ≡ pushed-down
    startswith filter on the sorted key column."""
    return keys.filter(F.col(key_col).startswith(prefix))


def point_lookup(keys: DataFrame, row_key: str, key_col: str = "row_key") -> DataFrame:
    """S2: exact-key get (ref KeyManagerImpl.lookupKey)."""
    return keys.filter(F.col(key_col) == row_key)


def range_scan(
    keys: DataFrame,
    start_key: str,
    end_key: str | None = None,
    key_col: str = "row_key",
    inclusive_start: bool = True,
) -> DataFrame:
    """F2: resume-style range predicate (ref :775-789,949-951)."""
    c = F.col(key_col)
    out = keys.filter(c >= start_key if inclusive_start else c > start_key)
    if end_key is not None:
        out = out.filter(c < end_key)
    return out


def list_keys(
    keys: DataFrame,
    volume: str | None = None,
    bucket: str | None = None,
    prefix: str | None = None,
    start_key: str | None = None,
    max_keys: int = DEFAULT_MAX_KEYS,
    key_col: str = "row_key",
) -> DataFrame:
    """W1: ordered, paginated namespace listing.

    Reference truth table (OmMetadataManagerImpl.java:867-884): seek
    position is ``start_key`` when given (exclusive — skipStartKey) else
    the prefix (inclusive); rows must still match the prefix. Emits at
    most ``max_keys`` rows ordered by key. Token for the next page = last
    emitted key.
    """
    if bucket is not None and volume is None:
        # reference listKeys requires the volume when a bucket is given
        # (OmMetadataManagerImpl.java:861-865 validates volume first)
        raise ValueError("list_keys: bucket filter requires volume")
    out = keys
    if volume is not None:
        # cheap equality predicates first: on a partitioned snapshot these
        # prune partitions outright; on a derived view they avoid building
        # the full row_key string for non-matching rows
        if "volume" in keys.columns:
            out = out.filter(F.col("volume") == volume)
        if bucket is not None and "bucket" in keys.columns:
            out = out.filter(F.col("bucket") == bucket)
        pfx = f"/{volume}/" + (f"{bucket}/" if bucket is not None else "")
        out = out.filter(F.col(key_col).startswith(pfx))
    if prefix:
        out = out.filter(F.col(key_col).startswith(prefix))
    if start_key:
        out = out.filter(F.col(key_col) > start_key)  # exclusive resume
    return out.orderBy(key_col).limit(max_keys)


def list_status(
    keys: DataFrame,
    dir_prefix: str,
    recursive: bool = False,
    key_col: str = "key",
    size_col: str = "data_size",
) -> DataFrame:
    """W3: listStatus of a directory over the flat (OBS) layout.

    Non-recursive: collapse every descendant into its immediate child
    below ``dir_prefix``; children that are themselves prefixes of deeper
    keys become synthesized "fake dir" entries with aggregate stats
    (ref KeyManagerImpl.java:2357-2411 — the seek-skip-scan there is
    replaced by a groupBy on the derived child column, same asymptotics
    after partition pruning).

    Returns (name, is_dir, num_files, total_size).
    """
    pfx = dir_prefix if dir_prefix.endswith("/") or not dir_prefix else dir_prefix + "/"
    under = keys.filter(F.col(key_col).startswith(pfx)) if pfx else keys
    if recursive:
        return under.select(
            F.col(key_col).alias("name"),
            (~is_file(F.col(key_col))).alias("is_dir"),
            F.lit(1).alias("num_files"),
            F.col(size_col).alias("total_size"),
        ).orderBy("name")
    child = immediate_child(F.col(key_col), pfx)
    rel = F.substring(F.col(key_col), len(pfx) + 1, 1_000_000)
    return (
        under.select(
            child.alias("child"),
            (F.instr(rel, "/") > 0).alias("is_dir"),  # deeper path ⇒ fake dir
            F.col(size_col).alias("sz"),
        )
        .groupBy("child")
        .agg(
            F.max("is_dir").alias("is_dir"),
            F.count(F.lit(1)).alias("num_files"),
            F.sum("sz").alias("total_size"),
        )
        .select(
            F.concat(F.lit(pfx), F.col("child")).alias("name"),
            "is_dir",
            "num_files",
            "total_size",
        )
        .orderBy("name")
    )


def sorted_read_locations(
    keys_page: DataFrame,
    replicas: DataFrame,
    datanodes: DataFrame,
    client_datanode_id: int,
) -> DataFrame:
    """Topology-sorted block locations for a key page — the OM read
    path's locality sort (KeyManagerImpl.java:692 sortDatanodes →
    NetworkTopologyImpl.sortByDistanceCost:658-672). On the standard
    /rack/node tree with unit level costs the distance law
    (getDistanceCost:602-641) collapses to: same node 0, same rack 2,
    different rack 4; replicas on unregistered nodes sort last
    (Integer.MAX_VALUE branch). Stable order: cost, then datanode id.

    One broadcast of the node dim; the client's rack is a 1-row
    broadcast; ranking is a per-key window over ≤RF rows.
    """
    from pyspark.sql import Window

    # aggregate to exactly one row even when the client id is not a
    # registered datanode (client_rack NULL → every replica costs 4,
    # matching the oracle's scalar-subquery semantics; an empty frame
    # here would annihilate the cross join and return no locations)
    client = (
        datanodes.filter(F.col("datanode_id") == client_datanode_id)
        .agg(F.max("rack").alias("client_rack"))
    )
    located = (
        keys_page.select("row_key", "container_id")
        .join(replicas, "container_id")
        .join(
            F.broadcast(datanodes.select("datanode_id", "hostname", "rack")),
            "datanode_id",
            "left",
        )
        .crossJoin(F.broadcast(client))
    )
    cost = (
        F.when(F.col("datanode_id") == client_datanode_id, F.lit(0))
        .when(F.col("rack").isNull(), F.lit(2147483647))
        .when(F.col("rack") == F.col("client_rack"), F.lit(2))
        .otherwise(F.lit(4))
    )
    w = Window.partitionBy("row_key").orderBy("distance_cost", "datanode_id")
    return (
        located.select(
            "row_key",
            "datanode_id",
            F.coalesce(F.col("hostname"), F.lit("UNKNOWN")).alias("hostname"),
            cost.alias("distance_cost"),
        )
        .withColumn("read_rank", F.row_number().over(w).cast("long"))
        .orderBy("row_key", "read_rank")
    )


def chunk_locations(
    keys_page: DataFrame,
    replicas: DataFrame,
    datanodes: DataFrame,
    cluster_id: str = "CID-cluster",
) -> DataFrame:
    """S10 — the key→chunk-location debug map: ``ozone debug chunkinfo``
    (tools/.../debug/ChunkKeyHandler.java:102-188: key → block
    locations → per-datanode chunk file paths via getBlockFromAllNodes)
    composed with fsck's ContainerMapper container→block rollup
    (tools/.../fsck/ContainerMapper.java:45-80).

    The chunk file path replays the datanode layout law exactly:
    base = hddsVolumeDir/clusterId/current/containerDir<(id>>9)&0xFF>/<id>
    (KeyValueContainerLocationUtil.java:78-103), chunks dir = base/chunks
    (OzoneConsts STORAGE_DIR_CHUNKS), and the default FILE_PER_BLOCK
    layout names the file <localID>.block (ChunkLayOutVersion.java:48-53).
    The local block id is the key's object id (the model's id lane);
    hddsVolumeDir is the node-local disk root /data/dn_<id>/hdds.

    Plan: key page ⋈ replica plane on container_id (the page is tiny —
    broadcast side), node dim broadcast; pure string/bit arithmetic per
    row, no shuffle beyond the page join. One row per (key, replica):
    the per-datanode file a debug/fsck operator would stat.
    """
    local_id = F.split(F.col("key"), "_").getItem(1).cast("long")
    page = keys_page.select(
        "row_key", "key", "container_id", local_id.alias("local_id")
    )
    sub_dir = F.concat(
        F.lit("containerDir"),
        F.shiftright(F.col("container_id"), 9).bitwiseAND(255),
    )
    chunk_file = F.concat(
        F.lit("/data/dn_"), F.col("datanode_id"), F.lit("/hdds/"),
        F.lit(cluster_id), F.lit("/current/"), sub_dir, F.lit("/"),
        F.col("container_id"), F.lit("/chunks/"),
        F.col("local_id"), F.lit(".block"),
    )
    return (
        replicas.join(F.broadcast(page), "container_id")
        .join(
            F.broadcast(datanodes.select("datanode_id", "hostname")),
            "datanode_id",
            "left",
        )
        .select(
            "row_key",
            "container_id",
            "local_id",
            "datanode_id",
            F.coalesce(F.col("hostname"), F.lit("UNKNOWN")).alias("hostname"),
            chunk_file.alias("chunk_file"),
        )
        .orderBy("row_key", "datanode_id")
    )


def get_file_status(
    keys: DataFrame, probes: DataFrame, key_col: str = "row_key"
) -> DataFrame:
    """OM getFileStatus (KeyManagerImpl.getOzoneFileStatus — the ofs/o3fs
    stat call): a path is a FILE when an exact key matches, a DIRECTORY
    when any key lives under ``path + '/'`` (fake-dir detection, same
    subtree probe listStatus uses), else NOT_FOUND.

    One pass over the key plane against the broadcast probe set: each
    key row votes (exact / child) per probe, one small groupBy
    aggregates the votes. data_size is returned for FILE hits.
    """
    cond = (F.col(key_col) == F.col("probe_path")) | F.col(key_col).startswith(
        F.concat(F.col("probe_path"), F.lit("/"))
    )
    votes = (
        keys.join(F.broadcast(probes), cond)
        .groupBy("probe_path")
        .agg(
            F.max(
                F.when(F.col(key_col) == F.col("probe_path"), 1).otherwise(0)
            ).alias("has_exact"),
            F.max(
                F.when(F.col(key_col) != F.col("probe_path"), 1).otherwise(0)
            ).alias("has_child"),
            F.max(
                F.when(F.col(key_col) == F.col("probe_path"), F.col("data_size"))
            ).alias("file_size"),
        )
    )
    return (
        probes.join(F.broadcast(votes), "probe_path", "left")
        .select(
            "probe_path",
            F.when(F.col("has_exact") == 1, F.lit("FILE"))
            .when(F.col("has_child") == 1, F.lit("DIRECTORY"))
            .otherwise(F.lit("NOT_FOUND"))
            .alias("status"),
            F.when(F.col("has_exact") == 1, F.col("file_size")).alias("data_size"),
        )
        .orderBy("probe_path")
    )


def resolve_bucket_links(buckets: DataFrame, max_depth: int = 16) -> DataFrame:
    """Bucket-link resolution — OzoneManager.resolveBucketLink walks
    (sourceVolume, sourceBucket) chains recursively until a non-link
    bucket, failing on a revisited pair (DETECTED_LOOP_IN_BUCKET_LINKS;
    OmBucketInfo link fields OmBucketInfo.java:42-106). Every read RPC
    resolves through this before touching the key plane.

    Spark-first inversion: instead of per-request walks, resolve EVERY
    bucket once by POINTER DOUBLING — each round composes the current
    partial resolution with itself (``resolved(x) ←
    resolved(resolved(x))``, depths summing), so ``max_depth`` hops
    need only ``log2(max_depth)`` self-joins instead of ``max_depth``
    sequential ones (cycle rows never resolve, so a step-at-a-time
    loop always pays the full depth budget). Later reads are one
    equi-join against the resolved map. Returns one row per bucket:

        (volume, bucket, resolved_volume, resolved_bucket, depth,
         is_loop)

    A chain still pointing at a link after ``max_depth`` hops is marked
    ``is_loop`` (the relational determinization of the reference's
    visited-set throw: any cycle exceeds every finite depth, and
    namespace link chains are admin-created and short). Cycle rows
    surface with depth exactly ``max_depth`` — the same terminal state
    a depth-capped single-step walk (and the recursive-CTE oracle)
    reaches — which requires ``max_depth`` to be a power of two.

    ``buckets``: (volume, bucket, source_volume, source_bucket) with
    NULL sources for non-link buckets.
    """
    assert max_depth & (max_depth - 1) == 0, "max_depth must be a power of 2"
    scratch.fresh("resolve_bucket_links")
    link_set = scratch.keep(
        "resolve_bucket_links",
        buckets.filter(F.col("source_volume").isNotNull()).select(
            F.col("volume").alias("_lv"), F.col("bucket").alias("_lb")
        ),
    )
    # one-step seed: links point at their source (depth 1), non-links
    # at themselves (depth 0)
    state = buckets.select(
        "volume",
        "bucket",
        F.coalesce("source_volume", "volume").alias("resolved_volume"),
        F.coalesce("source_bucket", "bucket").alias("resolved_bucket"),
        F.when(F.col("source_volume").isNotNull(), 1)
        .otherwise(0)
        .alias("depth"),
    ).localCheckpoint(eager=False)
    rounds = max(1, max_depth.bit_length() - 1)  # log2(max_depth)
    for _ in range(rounds):
        target = state.select(
            F.col("volume").alias("_tv"),
            F.col("bucket").alias("_tb"),
            F.col("resolved_volume").alias("_trv"),
            F.col("resolved_bucket").alias("_trb"),
            F.col("depth").alias("_td"),
        )
        state = (
            state.join(
                F.broadcast(target),
                (state["resolved_volume"] == target["_tv"])
                & (state["resolved_bucket"] == target["_tb"])
                & (target["_td"] > 0),  # compose only through links
                "left",
            )
            .select(
                "volume",
                "bucket",
                F.coalesce("_trv", "resolved_volume").alias("resolved_volume"),
                F.coalesce("_trb", "resolved_bucket").alias("resolved_bucket"),
                (F.col("depth") + F.coalesce(F.col("_td"), F.lit(0))).alias(
                    "depth"
                ),
            )
            # lazy + O(log depth) plans: the round's isEmpty fixpoint
            # check materializes this checkpoint inside its own job —
            # one action per round, not two (optimization r13)
            .localCheckpoint(eager=False)
        )
        # fixpoint: nothing resolves to a link anymore (cycle-free case
        # exits after ~log2(longest chain) rounds)
        unresolved = state.join(
            F.broadcast(
                link_set.select(
                    F.col("_lv").alias("resolved_volume"),
                    F.col("_lb").alias("resolved_bucket"),
                )
            ),
            ["resolved_volume", "resolved_bucket"],
            "leftsemi",
        )
        if unresolved.isEmpty():
            break
    links = buckets.select(
        F.col("volume").alias("_lv"),
        F.col("bucket").alias("_lb"),
        "source_volume",
        "source_bucket",
    )
    # still resolving TO a link after max_depth hops ⇒ cycle: flag it
    return (
        state.join(
            F.broadcast(
                links.filter(F.col("source_volume").isNotNull()).select(
                    F.col("_lv").alias("resolved_volume"),
                    F.col("_lb").alias("resolved_bucket"),
                    F.lit(True).alias("_still"),
                )
            ),
            ["resolved_volume", "resolved_bucket"],
            "left",
        )
        .select(
            "volume",
            "bucket",
            "resolved_volume",
            "resolved_bucket",
            "depth",
            F.coalesce(F.col("_still"), F.lit(False)).alias("is_loop"),
        )
        .orderBy("volume", "bucket")
    )
