"""SCM service-plane analytics: container balancer, decommission
monitor, and the deleted-block log.

Reference laws (re-expressed relationally, not ported):

- ContainerBalancer.java:169-233 — classify IN_SERVICE+HEALTHY nodes
  against cluster-average utilization ± threshold; per-node over/under
  loaded bytes via ratioToBytes (capacity × ratio).
- DatanodeAdminMonitorImpl.java:273-300 — a node can complete
  decommission/maintenance-entry iff every container replicated on it
  is sufficiently replicated and healthy.
- ContainerReplicaCount.java:206-241 — the sufficiency law: missing
  replicas after maintenance credit, floored by the min-healthy-for-
  maintenance requirement.
- DeletedBlockLogImpl.java:148-201,405-445 — txns with retry −1 are
  the failed set; eligible txns (retry ≥ 0, ≤ maxRetry, container not
  open) fan out to the datanodes holding replicas.

Scale shape: every query here does exactly one fact-sized shuffle (a
groupBy on its keyed plane); node/container dims ride broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_ozone_spark import scratch

_DECOM_STATES = ("DECOMMISSIONING", "DECOMMISSIONED")
_MAINT_STATES = ("IN_MAINTENANCE", "ENTERING_MAINTENANCE")


def balancer_utilization(
    datanodes_df: DataFrame,
    replicas: DataFrame,
    containers_df: DataFrame,
    threshold: float = 0.1,
) -> DataFrame:
    """Per-datanode utilization classification, the balancer's
    initializeIteration() view (ContainerBalancer.java:169-233).

    Scope is IN_SERVICE + HEALTHY nodes only (SCMNodeManager.java:
    676-688). utilization = used/capacity where used aggregates the
    bytes of containers replicated on the node (the node-report
    analogue); the cluster average is sum(used)/sum(capacity) over the
    in-scope nodes (ContainerBalancer.java:315-339). Nodes above
    avg+threshold are OVER_UTILIZED with bytes_over_upper =
    capacity·utilization − capacity·upper (ratioToBytes law,
    ContainerBalancer.java:304-312); below avg−threshold,
    UNDER_UTILIZED with the mirrored bytes_under_lower.

    Plan: replicas groupBy(datanode) is the only fact shuffle;
    containers ride a broadcast; the cluster totals are a 1-row
    broadcast cross join.
    """
    scope = datanodes_df.filter(
        (F.col("node_state") == "HEALTHY") & (F.col("op_state") == "IN_SERVICE")
    ).select("datanode_id", "hostname", "capacity_bytes")
    per_node_used = (
        replicas.join(
            F.broadcast(containers_df.select("container_id", "used_bytes")),
            "container_id",
        )
        .groupBy("datanode_id")
        .agg(F.sum("used_bytes").alias("used_bytes"))
    )
    nodes = scope.join(F.broadcast(per_node_used), "datanode_id", "left").select(
        "datanode_id",
        "hostname",
        "capacity_bytes",
        F.coalesce(F.col("used_bytes"), F.lit(0)).alias("used_bytes"),
    )
    totals = nodes.agg(
        F.sum("used_bytes").alias("cluster_used"),
        F.sum("capacity_bytes").alias("cluster_capacity"),
    )
    avg = F.col("cluster_used") / F.col("cluster_capacity")
    upper = avg + F.lit(threshold)
    lower = avg - F.lit(threshold)
    util = F.col("used_bytes") / F.col("capacity_bytes")
    return (
        nodes.crossJoin(F.broadcast(totals))
        .select(
            "datanode_id",
            "hostname",
            "capacity_bytes",
            "used_bytes",
            util.alias("utilization"),
            avg.alias("cluster_avg_utilization"),
            F.when(util > upper, F.lit("OVER_UTILIZED"))
            .when(util < lower, F.lit("UNDER_UTILIZED"))
            .otherwise(F.lit("WITHIN_THRESHOLD"))
            .alias("classification"),
            F.when(
                util > upper,
                F.col("capacity_bytes") * util - F.col("capacity_bytes") * upper,
            )
            .otherwise(F.lit(0.0))
            .alias("bytes_over_upper"),
            F.when(
                util < lower,
                F.col("capacity_bytes") * lower - F.col("capacity_bytes") * util,
            )
            .otherwise(F.lit(0.0))
            .alias("bytes_under_lower"),
        )
        .orderBy("datanode_id")
    )


def container_sufficiency(
    containers_df: DataFrame,
    replicas: DataFrame,
    datanodes_df: DataFrame,
    min_healthy_for_maintenance: int = 2,
) -> DataFrame:
    """Per-container replica sufficiency under operational states —
    ContainerReplicaCount.java:52-74 (state bucketing) and 206-241
    (the missing-replica law with maintenance credit).

    healthy counts replicas whose datanode op_state is neither
    decommission- nor maintenance-flavored; a replica on an
    unregistered datanode has no op_state and counts healthy (left
    join — same stance as the J2 classifier). missing replicas:

        delta = rf − healthy
        delta>0 → max(max(0, min(rf, minHealthy) − healthy),
                      max(0, delta − maintenance))

    sufficient ⇔ missing ≤ 0 (no in-flight ops in the model).
    healthy_state mirrors isHealthy()'s container-state gate
    (ContainerReplicaCount.java:263-270); the per-replica state match
    lives in the close/delete planes (close_actions / delete_actions
    over model.rm_replica_details), which is where the reference
    consumes it — the sufficiency law itself only counts.
    """
    op_states = datanodes_df.select("datanode_id", "op_state")
    counts = (
        replicas.join(F.broadcast(op_states), "datanode_id", "left")
        .groupBy("container_id")
        .agg(
            F.sum(
                F.when(F.col("op_state").isin(*_DECOM_STATES), 1).otherwise(0)
            ).alias("decommission_count"),
            F.sum(
                F.when(F.col("op_state").isin(*_MAINT_STATES), 1).otherwise(0)
            ).alias("maintenance_count"),
            F.sum(
                F.when(
                    F.col("op_state").isin(*_DECOM_STATES, *_MAINT_STATES), 0
                ).otherwise(1)
            ).alias("healthy_count"),
        )
    )
    joined = containers_df.select(
        "container_id", "state", "replication_factor"
    ).join(counts, "container_id", "left")
    healthy = F.coalesce(F.col("healthy_count"), F.lit(0))
    maint = F.coalesce(F.col("maintenance_count"), F.lit(0))
    min_healthy = F.least(
        F.col("replication_factor"), F.lit(min_healthy_for_maintenance)
    )
    delta = F.col("replication_factor") - healthy
    missing = F.when(delta < 0, delta).otherwise(
        F.greatest(
            F.greatest(F.lit(0), min_healthy - healthy),
            F.greatest(F.lit(0), delta - maint),
        )
    )
    return joined.select(
        "container_id",
        "state",
        "replication_factor",
        healthy.alias("healthy_count"),
        F.coalesce(F.col("decommission_count"), F.lit(0)).alias("decommission_count"),
        maint.alias("maintenance_count"),
        missing.alias("missing_replicas"),
        (missing <= 0).alias("sufficiently_replicated"),
        F.col("state").isin("CLOSED", "QUASI_CLOSED").alias("healthy_state"),
    )


def decommission_status(
    containers_df: DataFrame,
    replicas: DataFrame,
    datanodes_df: DataFrame,
    min_healthy_for_maintenance: int = 2,
) -> DataFrame:
    """Per-node admin-workflow readiness —
    DatanodeAdminMonitorImpl.java:273-300: for each node in
    DECOMMISSIONING or ENTERING_MAINTENANCE, count its containers'
    sufficiency; the workflow completes iff under_replicated == 0 and
    unhealthy == 0.

    Replicas whose container is absent from the container plane are
    skipped (the monitor's ContainerNotFoundException branch — the
    inner join). Plan: the monitored-container id set is broadcast to
    semi-prune the replica and container planes BEFORE the sufficiency
    groupBy, so every stage costs O(containers on draining nodes) —
    scan-side fact work is the one pruned replicas pass.
    """
    monitored = datanodes_df.filter(
        F.col("op_state").isin("DECOMMISSIONING", "ENTERING_MAINTENANCE")
    ).select("datanode_id", "hostname", "op_state")
    on_node_replicas = replicas.join(F.broadcast(monitored), "datanode_id")
    # prune before the expensive sufficiency aggregation: only the
    # containers replicated on a monitored node matter, and that set is
    # bounded by the few draining nodes' container counts — so the
    # per-container counts and the containers join cost O(|containers
    # on draining nodes|), not O(|cluster|), at any scale. The pruned
    # replica set still holds EVERY replica of each such container, so
    # the sufficiency law sees full counts.
    monitored_containers = on_node_replicas.select("container_id").distinct()
    pruned_replicas = replicas.join(
        F.broadcast(monitored_containers), "container_id", "leftsemi"
    )
    pruned_containers = containers_df.join(
        F.broadcast(monitored_containers), "container_id", "leftsemi"
    )
    suff = container_sufficiency(
        pruned_containers, pruned_replicas, datanodes_df, min_healthy_for_maintenance
    ).select("container_id", "sufficiently_replicated", "healthy_state")
    on_node = on_node_replicas.join(F.broadcast(suff), "container_id")
    per_node = on_node.groupBy("datanode_id").agg(
        F.count(F.lit(1)).alias("container_count"),
        F.sum(F.when(F.col("sufficiently_replicated"), 1).otherwise(0)).alias(
            "sufficiently_replicated"
        ),
        F.sum(F.when(F.col("sufficiently_replicated"), 0).otherwise(1)).alias(
            "under_replicated"
        ),
        F.sum(F.when(F.col("healthy_state"), 0).otherwise(1)).alias("unhealthy"),
    )
    # left join from the monitored node set: a draining node holding
    # ZERO containers must still report (0, 0, 0, 0, can_complete=true)
    # — the monitor declares exactly those nodes complete immediately
    # (DatanodeAdminMonitorImpl.java:300 with an empty container set)
    return (
        monitored.join(F.broadcast(per_node), "datanode_id", "left")
        .select(
            "datanode_id",
            "hostname",
            "op_state",
            F.coalesce(F.col("container_count"), F.lit(0)).alias("container_count"),
            F.coalesce(F.col("sufficiently_replicated"), F.lit(0)).alias(
                "sufficiently_replicated"
            ),
            F.coalesce(F.col("under_replicated"), F.lit(0)).alias("under_replicated"),
            F.coalesce(F.col("unhealthy"), F.lit(0)).alias("unhealthy"),
            (
                (F.coalesce(F.col("under_replicated"), F.lit(0)) == 0)
                & (F.coalesce(F.col("unhealthy"), F.lit(0)) == 0)
            ).alias("can_complete"),
        )
        .orderBy("datanode_id")
    )


def pending_deletion_by_datanode(
    txns: DataFrame,
    replicas: DataFrame,
    containers_df: DataFrame,
    max_retry: int = 4096,
) -> DataFrame:
    """Per-datanode pending block-deletion load — the relational view
    of DeletedBlockLogImpl.getTransactions (DeletedBlockLogImpl.java:
    405-445): a txn is eligible when retry ∈ [0, maxRetry] and its
    container is not open (isOpen ⇔ OPEN|CLOSING,
    ContainerInfo.java:462-465); each eligible txn is dispatched to
    every datanode holding a replica (DatanodeDeletedBlockTransactions).

    The reference drains in txid order up to a per-round block limit;
    this is the steady-state backlog view (no cursor), which is what a
    capacity dashboard needs. Under the deployment layout all three
    planes (txns, replicas, containers — deleted_block_txns_bucketed in
    sources/deployment.BUCKETED) are bucketed on container_id, so the
    txn⋈container filter and the txn⋈replica fan-out co-locate; the
    only Exchange left is the final datanode_id groupBy.
    """
    eligible = txns.filter(
        (F.col("retry_count") >= 0) & (F.col("retry_count") <= max_retry)
    ).join(
        containers_df.select("container_id", "state"),
        "container_id",
    ).filter(~F.col("state").isin("OPEN", "CLOSING"))
    return (
        eligible.join(replicas, "container_id")
        .groupBy("datanode_id")
        .agg(
            F.count(F.lit(1)).alias("txn_count"),
            F.sum("block_count").alias("block_count"),
            F.countDistinct("container_id").alias("container_count"),
        )
        .orderBy("datanode_id")
    )


def failed_deletion_txns(
    txns: DataFrame, containers_df: DataFrame, limit: int = 100
) -> DataFrame:
    """Retry-exhausted deletion txns for admin inspection —
    getFailedTransactions (DeletedBlockLogImpl.java:148-163 returns
    txns whose count == −1; 194-201 is where the count is latched to
    −1 past maxRetry). Listed in txid (RocksDB key) order with the
    container's current state, bounded like the CLI pager.
    """
    return (
        txns.filter(F.col("retry_count") == -1)
        .join(
            F.broadcast(containers_df.select("container_id", "state")),
            "container_id",
            "left",
        )
        .select(
            "txid",
            "container_id",
            F.coalesce(F.col("state"), F.lit("NOT_FOUND")).alias("container_state"),
            "block_count",
        )
        .orderBy("txid")
        .limit(limit)
    )


def node_free_space(
    replicas: DataFrame, containers_df: DataFrame, datanodes_df: DataFrame
) -> DataFrame:
    """Per-datanode (capacity, used, free) from the replica plane — the
    SCMNodeStat view the placement policy consults
    (SCMCommonPlacementPolicy.hasEnoughSpace; usage feed
    SCMNodeManager.java:676-688). used aggregates the bytes of
    containers replicated on the node, same law as the balancer scope.

    Plan: one fact shuffle (replicas groupBy datanode) with the
    container sizes riding a broadcast.
    """
    used = (
        replicas.join(
            F.broadcast(containers_df.select("container_id", "used_bytes")),
            "container_id",
        )
        .groupBy("datanode_id")
        .agg(F.sum("used_bytes").alias("node_used"))
    )
    return datanodes_df.join(F.broadcast(used), "datanode_id", "left").select(
        "datanode_id",
        "hostname",
        "rack",
        "node_state",
        "op_state",
        "capacity_bytes",
        F.coalesce(F.col("node_used"), F.lit(0)).alias("used_bytes"),
        (F.col("capacity_bytes") - F.coalesce(F.col("node_used"), F.lit(0))).alias(
            "free_bytes"
        ),
    )


def datanode_usage(
    replicas: DataFrame,
    containers_df: DataFrame,
    datanodes_df: DataFrame,
    count: int = 10,
    most_used: bool = True,
) -> DataFrame:
    """`ozone admin datanode usageinfo` — getMostOrLeastUsedDatanodes
    (SCMNodeManager.java:676-700): IN_SERVICE+HEALTHY scope, ordered by
    the REMAINING-TO-CAPACITY RATIO (DatanodeUsageInfo.java:49-66
    compareByRemainingRatio) — mostUsed = lowest remaining ratio first,
    not absolute bytes, which matters on heterogeneous-capacity
    clusters. datanode_id breaks ties deterministically.

    Top-k over the node dim after the one fact rollup of
    :func:`node_free_space` — a TakeOrderedAndProject cut, never a full
    sort. The ratios are single IEEE divisions over exact BIGINTs
    (engine-stable).
    """
    nodes = node_free_space(replicas, containers_df, datanodes_df).filter(
        (F.col("node_state") == "HEALTHY") & (F.col("op_state") == "IN_SERVICE")
    )
    remaining_ratio = F.col("remaining_bytes") / F.col("capacity_bytes")
    order = (
        [remaining_ratio.asc(), F.asc("datanode_id")]
        if most_used
        else [remaining_ratio.desc(), F.asc("datanode_id")]
    )
    return (
        nodes.select(
            "datanode_id",
            "hostname",
            "capacity_bytes",
            "used_bytes",
            F.col("free_bytes").alias("remaining_bytes"),
            (F.col("used_bytes") / F.col("capacity_bytes")).alias("percent_used"),
        )
        .orderBy(*order)
        .limit(count)
    )


def placement_candidates(
    under: DataFrame,
    replicas: DataFrame,
    candidates: DataFrame,
) -> DataFrame:
    """Rack-aware target ranking — the relational closed form of
    SCMContainerPlacementRackAware.chooseDatanodes
    (SCMContainerPlacementRackAware.java:120-200): exclude nodes that
    already hold a replica (ReplicationManager.java:757-763 builds the
    excludeList from current replicas), spread onto racks the container
    does not cover yet, and among equally-spread choices prefer the
    node with the most free space (hasEnoughSpace/usage ordering),
    datanode_id as the final deterministic tie-break.

    Multi-replica picks must SPREAD: when a container needs several new
    replicas, taking the global free-space order could place two on the
    same uncovered rack while another uncovered rack goes unused — the
    reference's chooser explicitly places the remaining replicas "on
    different racks" from the already-chosen ones
    (SCMContainerPlacementRackAware.java:163-166). The closed form of
    that greedy: rank candidates within their (container, rack) by free
    space, and order globally by (rack_covered, rack_rank, free, id) —
    the best node of EVERY uncovered rack sorts before any second node
    of one.

    ``under``: (container_id, ...) the containers needing targets;
    ``replicas``: the live (container_id, datanode_id [, rack]) plane;
    ``candidates``: node_free_space rows pre-filtered to
    HEALTHY+IN_SERVICE. Returns one row per (container, candidate)
    with ``rank`` 1..n per container.

    Plan shape: |under| × |cand| candidate pairs (the reference scores
    every node per container too) built from a broadcast of the node
    dim; the holder/rack exclusions are joins against the fact-sized
    replica plane keyed on container_id — one shuffle each.

    This is the probe surface's (:func:`placement_probe`) full ranking:
    it ranks ONE container and displays beyond the consumed prefix.
    :func:`replication_actions` evaluates the same order per container
    over a per-rack-cut candidate list instead.
    """
    cand = F.broadcast(
        candidates.select("datanode_id", "rack", "free_bytes")
    )
    holders = replicas.select("container_id", "datanode_id").distinct()
    covered = replicas.select("container_id", "rack").distinct().withColumn(
        "rack_covered", F.lit(True)
    )
    pairs = (
        under.select("container_id")
        .join(cand)
        .join(holders, ["container_id", "datanode_id"], "left_anti")
        .join(covered, ["container_id", "rack"], "left")
        .withColumn("rack_covered", F.coalesce(F.col("rack_covered"), F.lit(False)))
        .withColumn(
            "rack_rank",
            F.row_number().over(
                Window.partitionBy("container_id", "rack").orderBy(
                    F.desc("free_bytes"), F.asc("datanode_id")
                )
            ),
        )
    )
    w = Window.partitionBy("container_id").orderBy(
        F.asc("rack_covered"),
        F.asc("rack_rank"),
        F.desc("free_bytes"),
        F.asc("datanode_id"),
    )
    return pairs.withColumn("rank", F.row_number().over(w))


def placement_probe(
    containers_df: DataFrame,
    replicas: DataFrame,
    datanodes_df: DataFrame,
    limit: int = 10,
) -> DataFrame:
    """The placement chooser as its own admin surface: for the LOWEST
    under-replicated container (with a healthy source), the full
    ranked candidate list with its ranking features — "which datanode
    gets the new replica, and why" (SCMContainerPlacementRackAware
    chooseDatanodes exposed as a query instead of a side effect).

    Self-contained probe (scalar-subquery ≡ broadcast 1-row join, same
    pattern as s2_point_lookup); the candidate window then runs over
    one container only.
    """
    dn = datanodes_df.select("datanode_id", "rack", "node_state", "op_state")
    rep = replicas.select("container_id", "datanode_id").join(
        F.broadcast(dn), "datanode_id"
    )
    counts = rep.groupBy("container_id").agg(
        F.count(F.lit(1)).alias("replica_count"),
        F.sum(F.when(F.col("node_state") == "HEALTHY", 1).otherwise(0)).alias(
            "healthy_source_count"
        ),
    )
    under = (
        containers_df.filter(F.col("state") != "DELETED")
        .select("container_id", "replication_factor")
        .join(counts, "container_id")
        .filter(
            (F.col("replica_count") < F.col("replication_factor"))
            & (F.col("healthy_source_count") > 0)
        )
    )
    probe = under.agg(F.min("container_id").alias("container_id"))
    target = under.join(F.broadcast(probe), "container_id")
    candidates = node_free_space(replicas, containers_df, datanodes_df).filter(
        (F.col("node_state") == "HEALTHY") & (F.col("op_state") == "IN_SERVICE")
    )
    return (
        placement_candidates(
            target, rep.select("container_id", "datanode_id", "rack"), candidates
        )
        .filter(F.col("rank") <= limit)
        .select(
            "container_id", "rank", "datanode_id", "rack", "rack_covered",
            "free_bytes",
        )
        .orderBy("rank")
    )


def replication_actions(
    containers_df: DataFrame,
    replicas: DataFrame,
    datanodes_df: DataFrame,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The ReplicationManager's action set — what the cluster should DO
    next, not just how it is classified (the J2 classifier stops at
    health states; this emits the commands).

    Laws re-expressed (deterministic closed forms of the reference's
    per-container greedy walks, no in-flight ops in the model):

    - Under-replicated (ReplicationManager.java:692-805): containers
      with 0 < replicas < factor get one ADD_REPLICA per missing
      replica, targeted rack-aware and free-space ordered (the
      :func:`placement_candidates` law). Re-replication needs a healthy
      source (:724-731 filters stale/dead sources; :790 warns and skips
      when none) → NO_HEALTHY_SOURCE marker row instead of ADDs.
    - Zero replicas: the reference cannot re-replicate from nothing —
      one MISSING marker row (the fsck surface picks it up).
    - Over-replicated (:807-860): delete excess replicas without
      breaking placement. Only IN_SERVICE replicas are eligible
      (:843-847 removeIf op_state != IN_SERVICE); the walk is
      deterministic (:828-831 sorts replicas first). Closed form of
      "delete only if placement stays satisfied" under the
      distinct-racks validator (ContainerPlacementStatusDefault):
      rack-duplicate replicas (2nd+ on their rack) never reduce rack
      coverage → delete them first, most-duplicated first; rack
      singletons reduce coverage 1:1 → deletable only down to
      expected = min(factor, total_racks), i.e. at most
      (eligible_racks − expected) of them. Any remaining excess is
      blocked (the reference logs :897 and leaves it) — no row.

    Output: (container_id, action, datanode_id, rack, detail);
    datanode_id/rack are NULL on marker rows.

    Plan: one pass per container, as the reference's run loop visits
    each container once. The replica plane (⋈ the broadcast node dim)
    is grouped by container once into a replica list, left-joined to
    the non-DELETED containers, and crossed with ONE broadcast row:
    the HEALTHY+IN_SERVICE candidate list plus the cluster's rack
    count. Every action is a higher-order-function expression over the
    container's own lists (:data:`_RM_ACTIONS_SQL`), exploded once. The
    fact-sized shuffles are the replica grouping (none over the
    container-bucketed snapshot table) and :func:`node_free_space`'s
    per-node rollup behind the default candidates.

    Disaster-mode fan-out guard (VERDICT r5 #2): each candidate carries
    its rank within its rack (free space desc, id asc) over the full
    candidate set, and the broadcast list keeps only ranks ≤ max(rf).
    Exact: a container's post-exclusion rack rank is that pre-rank
    minus the holders ahead of the node in its rack (at most cnt), and
    the k-th ADD of a container has post-exclusion rack rank ≤ k ≤
    rf − cnt (the target order sorts rack rank ascending within each
    covered-group) — so a picked node always has pre-rank ≤ rf. The
    per-container work is bounded by |racks| × max_rf candidates
    instead of |nodes|.

    ``candidates`` (default: derived from ``replicas``/``containers_df``
    via :func:`node_free_space`, HEALTHY+IN_SERVICE filtered) lets the
    incremental/streaming caller inject a target ranking computed over
    the FULL live cluster while pruning ``replicas``/``containers_df``
    to the containers touched by a micro-batch — per-container action
    logic then costs O(|delta|) but target choice still sees
    cluster-wide utilization (streaming/maintenance.py
    plan_actions_batch).
    """
    dn = datanodes_df.select("datanode_id", "rack", "node_state", "op_state")
    per_container = (
        replicas.select("container_id", "datanode_id")
        .join(F.broadcast(dn), "datanode_id")
        .groupBy("container_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.when(F.col("node_state") == "HEALTHY", 1).otherwise(0)).alias(
                "healthy"
            ),
            F.expr(
                "collect_list(named_struct('id', datanode_id, 'rack', rack, "
                "'in_service', op_state = 'IN_SERVICE'))"
            ).alias("reps"),
        )
    )
    scope = containers_df.filter(F.col("state") != "DELETED").select(
        "container_id", F.col("replication_factor").alias("rf")
    )
    if candidates is None:
        candidates = node_free_space(replicas, containers_df, datanodes_df).filter(
            (F.col("node_state") == "HEALTHY")
            & (F.col("op_state") == "IN_SERVICE")
        )
    return (
        scope.join(per_container, "container_id", "left")
        .select(
            "container_id",
            "rf",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.coalesce(F.col("healthy"), F.lit(0)).alias("healthy"),
            "reps",
        )
        .crossJoin(F.broadcast(_rm_targets(candidates, scope, dn)))
        .select("*", F.expr(_RM_ELIG_SQL).alias("elig"))
        .select("container_id", F.explode(F.expr(_RM_ACTIONS_SQL)).alias("a"))
        .select("container_id", "a.*")
        .orderBy(
            "container_id", "action", F.coalesce(F.col("datanode_id"), F.lit(-1))
        )
    )


def _rm_targets(
    candidates: DataFrame, scope: DataFrame, dn: DataFrame
) -> DataFrame:
    """replication_actions' one broadcast row: ``cands``, the candidate
    nodes as [{id, rack, free, pre}] with ``pre`` the node's rank in its
    rack (free space desc, id asc) cut at max(rf) over ``scope`` (the
    fan-out guard), and ``total_racks``, the rack count of ``dn``.

    The three facts come out of ONE global aggregate over the union of
    their inputs, so the row costs one shuffle and one broadcast. The
    node dim is small by nature: held in one partition, its rack window
    plans no exchange."""
    ranked = (
        candidates.select("datanode_id", "rack", "free_bytes")
        .coalesce(1)
        .select(
            F.struct(
                F.col("datanode_id").alias("id"),
                "rack",
                F.col("free_bytes").alias("free"),
                F.row_number()
                .over(
                    Window.partitionBy("rack").orderBy(
                        F.desc("free_bytes"), F.asc("datanode_id")
                    )
                )
                .alias("pre"),
            ).alias("cand")
        )
    )
    return (
        ranked.unionByName(scope.select("rf"), allowMissingColumns=True)
        .unionByName(
            dn.select(F.col("rack").alias("dn_rack")), allowMissingColumns=True
        )
        .agg(
            F.collect_list("cand").alias("cands"),
            F.max("rf").alias("max_rf"),
            F.expr("size(collect_set(dn_rack))").alias("total_racks"),
        )
        .select(
            F.expr("filter(cands, c -> c.pre <= max_rf)").alias("cands"),
            "total_racks",
        )
    )


def _rm_row(action: str, node: str, rack: str, detail: str) -> str:
    return (
        f"named_struct('action', '{action}', 'datanode_id', {node}, "
        f"'rack', {rack}, 'detail', {detail})"
    )


def _rm_marker(action: str, detail: str) -> str:
    row = _rm_row(
        action, "CAST(NULL AS BIGINT)", "CAST(NULL AS STRING)", f"'{detail}'"
    )
    return f"array({row})"


# One container's action list over its columns (rf, cnt, healthy,
# reps: [{id, rack, in_service}], cands: [{id, rack, free, pre}],
# total_racks). Nulls follow the joins and windows of the DuckDB twin
# (scm_queries RM1_SQL): a NULL rack never covers (join `=`), but NULL
# racks share one rack-rank group (`<=>`, as a window partition) and
# are not counted as an eligible rack (count DISTINCT).
#
# ADD: drop holders, rank (rack covered, post-exclusion rack rank,
# free desc nulls last, id), take rf − cnt. Candidates with pre-rank
# > rf can never be picked (see replication_actions), so they are cut
# before the per-candidate work.
_RM_ADD_SQL = """transform(
  slice(
    array_sort(transform(
      filter(cands, c -> c.pre <= rf
                      AND NOT coalesce(exists(reps, r -> r.id = c.id), false)),
      c -> named_struct(
        'covered', coalesce(exists(reps, r -> r.rack = c.rack), false),
        'post', c.pre - size(filter(cands, h -> h.rack <=> c.rack
                                   AND h.pre < c.pre
                                   AND exists(reps, r -> r.id = h.id))),
        'free_null', c.free IS NULL,
        'neg_free', -c.free,
        'id', c.id,
        'rack', c.rack))),
    1, CAST(rf - cnt AS INT)),
  c -> """ + _rm_row(
    "ADD_REPLICA",
    "CAST(c.id AS BIGINT)",
    "c.rack",
    "concat('add ', CAST(rf - cnt AS STRING), ' replica(s): have ', "
    "CAST(cnt AS STRING), ' of ', CAST(rf AS STRING))",
) + ")"

# DELETE, part 1 (over-replicated containers only): the IN_SERVICE
# replicas, each with the count of IN_SERVICE replicas ahead of it in
# its rack by id (rir − 1; a duplicated replica row ranks by its list
# position), sorted rack-duplicates first by (rir desc, id desc), then
# rack singles by id desc.
_RM_ELIG_SQL = """CASE WHEN cnt > rf THEN array_sort(transform(
  filter(
    transform(reps, (x, i) -> named_struct(
      'in_service', x.in_service, 'id', x.id, 'rack', x.rack,
      'ahead', size(filter(reps, (y, j) -> y.in_service AND y.rack <=> x.rack
                           AND (y.id < x.id OR (y.id = x.id AND j < i)))))),
    x -> x.in_service),
  x -> named_struct('single', x.ahead = 0, 'neg_ahead', -x.ahead,
                    'neg_id', -x.id, 'id', x.id, 'rack', x.rack)))
END"""

# DELETE, part 2: the first cnt − rf of that order, rack singles only
# within the quota max(0, eligible racks − min(rf, total_racks)).
_RM_DELETE_SQL = """transform(
  concat(
    slice(filter(elig, x -> NOT x.single), 1, CAST(cnt - rf AS INT)),
    slice(filter(elig, x -> x.single), 1, CAST(greatest(0, least(
      size(array_distinct(filter(transform(elig, x -> x.rack),
                                 r -> r IS NOT NULL)))
        - least(rf, total_racks),
      cnt - rf - size(filter(elig, x -> NOT x.single)))) AS INT))),
  x -> """ + _rm_row(
    "DELETE_REPLICA",
    "CAST(x.id AS BIGINT)",
    "x.rack",
    "concat('delete ', CAST(cnt - rf AS STRING), ' excess replica(s): have ', "
    "CAST(cnt AS STRING), ' of ', CAST(rf AS STRING))",
) + """)"""

_RM_ACTIONS_SQL = f"""CASE
  WHEN cnt = 0 THEN {_rm_marker('MISSING', 'no replicas found')}
  WHEN cnt < rf AND healthy = 0
    THEN {_rm_marker('NO_HEALTHY_SOURCE', 'no healthy source replica')}
  WHEN cnt < rf THEN {_RM_ADD_SQL}
  WHEN cnt > rf THEN {_RM_DELETE_SQL}
END"""


def safe_mode_status(
    containers_df: DataFrame,
    replicas: DataFrame,
    datanodes_df: DataFrame,
    pipelines_df: DataFrame,
    members: DataFrame,
) -> DataFrame:
    """SCM safe-mode exit rules (SCMSafeModeManager.java), one row per
    rule with exact-integer threshold arithmetic:

    - CONTAINER (ContainerSafeModeRule.java:75-119): of the
      CLOSED/QUASI_CLOSED containers, the fraction with ≥1 reported
      replica must reach 99% (HDDS_SCM_SAFEMODE_THRESHOLD_PCT 0.99).
    - DATANODE (DataNodeSafeModeRule.java:60-68): registered datanodes
      ≥ 1 (HDDS_SCM_SAFEMODE_MIN_DATANODE).
    - HEALTHY_PIPELINE (HealthyPipelineSafeModeRule.java:93-148): open
      RATIS-THREE pipelines ≥ 10% of the factor-THREE pipeline count.
    - ONE_REPLICA_PIPELINE (OneReplicaPipelineSafeModeRule.java:90-124):
      factor-THREE open pipelines with ≥1 healthy member reported ≥ 90%
      of the factor-THREE count.

    required_count = ceil(pct·total) computed as (p·total + q−1) div q
    in integers, and satisfied compares counts — no float thresholds,
    so the oracle replays exactly. 'Reported' maps to the model's
    heartbeat signal: a replica row (container rule) / a HEALTHY member
    (pipeline rule). Plan: each rule is a tiny aggregate; the only
    fact-sized pass is the replica distinct for the container rule.
    """
    reported = replicas.select("container_id").distinct()
    scope = containers_df.filter(F.col("state").isin("CLOSED", "QUASI_CLOSED"))
    container_rule = (
        scope.select("container_id")
        .join(reported.withColumn("seen", F.lit(1)), "container_id", "left")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("current_count"),
        )
        .select(
            F.lit("CONTAINER").alias("rule"),
            "current_count",
            F.expr("(total_count * 99 + 99) div 100").alias("required_count"),
            "total_count",
        )
    )
    dn_rule = datanodes_df.agg(
        F.count(F.lit(1)).alias("current_count")
    ).select(
        F.lit("DATANODE").alias("rule"),
        "current_count",
        F.lit(1).cast("long").alias("required_count"),
        F.col("current_count").alias("total_count"),
    )
    f3 = pipelines_df.filter(F.col("replication_factor") == 3)
    hp_rule = f3.agg(
        F.count(F.lit(1)).alias("total_count"),
        F.sum(F.when(F.col("state") == "OPEN", 1).otherwise(0)).alias(
            "current_count"
        ),
    ).select(
        F.lit("HEALTHY_PIPELINE").alias("rule"),
        "current_count",
        F.expr("(total_count * 10 + 99) div 100").alias("required_count"),
        "total_count",
    )
    healthy_members = members.join(
        F.broadcast(
            datanodes_df.filter(F.col("node_state") == "HEALTHY").select(
                "datanode_id"
            )
        ),
        "datanode_id",
    ).select("pipeline_id").distinct()
    or_rule = (
        f3.join(healthy_members.withColumn("seen", F.lit(1)), "pipeline_id", "left")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.sum(
                F.when(
                    (F.col("state") == "OPEN") & (F.col("seen") == 1), 1
                ).otherwise(0)
            ).alias("current_count"),
        )
        .select(
            F.lit("ONE_REPLICA_PIPELINE").alias("rule"),
            "current_count",
            F.expr("(total_count * 90 + 99) div 100").alias("required_count"),
            "total_count",
        )
    )
    out = container_rule.unionByName(dn_rule).unionByName(hp_rule).unionByName(or_rule)
    return out.select(
        "rule",
        "current_count",
        "required_count",
        "total_count",
        (F.col("current_count") >= F.col("required_count")).alias("satisfied"),
    ).orderBy("rule")


def close_actions(
    container_details: DataFrame, replica_details: DataFrame
) -> DataFrame:
    """The ReplicationManager's CLOSE-command plane — the dispatch
    branches that precede replication handling in processContainer:

    - container CLOSING → (re)send a non-force CLOSE to every replica
      (ReplicationManager.java:330-336; datanodes may have missed the
      original close command).
    - container QUASI_CLOSED with a force-close quorum — distinct
      datanodes holding a QUASI_CLOSED replica > factor/2 (:575-587,
      origin-dedup modeled by datanode) → FORCE_CLOSE exactly the
      QUASI_CLOSED replicas at the highest BCSID (:655-681 max
      sequenceId filter).
    - otherwise, a CLOSED / QUASI_CLOSED container that is exactly
      replicated (the under/over branches would have consumed it,
      :400-420) but UNSTABLE — some replica state mismatches the
      container (:929-977): OPEN/CLOSING replicas get CLOSE;
      QUASI_CLOSED replicas matching the container BCSID get
      FORCE_CLOSE; of the rest (UNHEALTHY or BCSID-lagging), exactly
      ONE per container is deleted per iteration (:973-975
      findFirst — nondeterministic stream order in the reference,
      determinized here to the lowest datanode_id).

    ``container_details``: (container_id, state incl. QUASI_CLOSED,
    replication_factor, sequence_id); ``replica_details``:
    (container_id, datanode_id, replica_state, sequence_id).

    Output (container_id, action, datanode_id, detail). Plan: one
    replica-plane shuffle for the per-container quorum/max rollup
    (map-side combinable), windows per container for the delete pick;
    the container dim rides broadcasts.
    """
    scratch.fresh("close_actions")
    cd = container_details.select(
        "container_id",
        F.col("state").alias("c_state"),
        "replication_factor",
        F.col("sequence_id").alias("c_seq"),
    )
    # rep anchors all five dispatch branches (closing / force-close /
    # unstable×3). Every per-container statistic the dispatch needs
    # (replica count, quasi-closed quorum, max BCSID) is computed as a
    # WINDOW over this one frame — never a groupBy re-joined onto its
    # own source: the per-container stats share one container_id
    # Exchange, the branches stay pure filters over it, and there is no
    # self-join for Spark's conflicting-reference analysis to trip on
    # when the inputs are checkpointed per-batch RDDs (the streaming
    # plan_close_batch path). Persisted so the window pass runs once.
    w = Window.partitionBy("container_id")
    is_qc = (F.col("c_state") == "QUASI_CLOSED") & (
        F.col("replica_state") == "QUASI_CLOSED"
    )
    rep = (
        replica_details.join(F.broadcast(cd), "container_id")
        .withColumn("replica_count", F.count(F.lit(1)).over(w))
        .withColumn(
            "qc_nodes",
            F.size(
                F.collect_set(F.when(is_qc, F.col("datanode_id"))).over(w)
            ),
        )
        .withColumn(
            "max_seq",
            F.max(F.when(is_qc, F.col("sequence_id"))).over(w),
        )
    )
    rep = scratch.keep("close_actions", rep)

    closing = rep.filter(F.col("c_state") == "CLOSING").select(
        "container_id",
        F.lit("CLOSE").alias("action"),
        F.col("datanode_id").cast("long").alias("datanode_id"),
        F.lit("container CLOSING: resend close").alias("detail"),
    )

    has_quorum = F.col("qc_nodes") > F.col("replication_factor") / 2
    force_close = rep.filter(
        is_qc & has_quorum & (F.col("sequence_id") == F.col("max_seq"))
    ).select(
        "container_id",
        F.lit("FORCE_CLOSE").alias("action"),
        F.col("datanode_id").cast("long").alias("datanode_id"),
        F.concat(
            F.lit("force close at BCSID "), F.col("max_seq").cast("string")
        ).alias("detail"),
    )

    # unstable branch: CLOSED containers, or QUASI_CLOSED without the
    # force-close quorum; gated to exactly-replicated containers (the
    # under/over branches consume the rest first)
    eligible = rep.filter(
        (F.col("replica_count") == F.col("replication_factor"))
        & (
            (F.col("c_state") == "CLOSED")
            | ((F.col("c_state") == "QUASI_CLOSED") & ~has_quorum)
        )
    )
    # three consumers (close / force-close / single-delete) — persist
    # so the counts⋈quorum⋈rep pipeline behind it runs once
    mismatched = scratch.keep(
        "close_actions",
        eligible.filter(F.col("replica_state") != F.col("c_state")),
    )
    unstable_close = mismatched.filter(
        F.col("replica_state").isin("OPEN", "CLOSING")
    ).select(
        "container_id",
        F.lit("CLOSE").alias("action"),
        F.col("datanode_id").cast("long").alias("datanode_id"),
        F.lit("unstable replica: close").alias("detail"),
    )
    unstable_force = mismatched.filter(
        (F.col("replica_state") == "QUASI_CLOSED")
        & (F.col("sequence_id") == F.col("c_seq"))
    ).select(
        "container_id",
        F.lit("FORCE_CLOSE").alias("action"),
        F.col("datanode_id").cast("long").alias("datanode_id"),
        F.lit("unstable quasi-closed replica at container BCSID").alias("detail"),
    )
    leftovers = mismatched.filter(
        ~F.col("replica_state").isin("OPEN", "CLOSING")
        & ~(
            (F.col("replica_state") == "QUASI_CLOSED")
            & (F.col("sequence_id") == F.col("c_seq"))
        )
    )
    one_delete = (
        leftovers.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("container_id").orderBy("datanode_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "container_id",
            F.lit("DELETE_UNHEALTHY").alias("action"),
            F.col("datanode_id").cast("long").alias("datanode_id"),
            F.lit("unhealthy replica: delete one per iteration").alias("detail"),
        )
    )

    return (
        closing.unionByName(force_close)
        .unionByName(unstable_close)
        .unionByName(unstable_force)
        .unionByName(one_delete)
        .orderBy("container_id", "action", "datanode_id")
    )


def pipeline_scrub(
    pipeline_details_df: DataFrame,
    now_ms: int,
    allocated_timeout_ms: int = 300_000,
) -> DataFrame:
    """The background pipeline scrubber's per-iteration action view
    (SCMPipelineManager.java:511-545, driven by
    BackgroundPipelineCreator): scope is RATIS factor-THREE pipelines
    only (:513-517); a pipeline stuck in ALLOCATED longer than the
    scrub timeout gets CLOSE (:526-532); a CLOSED pipeline gets REMOVE
    — its containers are closed and the pipeline row dropped
    (:538-543). OPEN/DORMANT pipelines are untouched.

    Map-only classification over the pipeline dim — no shuffle at all;
    age arithmetic in integer millis so the oracle replays exactly.
    """
    age = F.lit(now_ms) - F.col("created_ms")
    action = (
        F.when(
            (F.col("state") == "ALLOCATED") & (age >= allocated_timeout_ms),
            F.lit("CLOSE"),
        )
        .when(F.col("state") == "CLOSED", F.lit("REMOVE"))
    )
    return (
        pipeline_details_df.filter(F.col("replication_factor") == 3)
        .select(
            "pipeline_id",
            "state",
            age.alias("age_ms"),
            action.alias("action"),
        )
        .filter(F.col("action").isNotNull())
        .orderBy("pipeline_id")
    )


def delete_actions(
    container_details: DataFrame,
    replica_details: DataFrame,
    keys: DataFrame,
) -> DataFrame:
    """The container delete plane — the processContainer branches that
    retire containers:

    - DELETING with ZERO replicas → CLEANUP: the container transitions
      to DELETED (ReplicationManager.java:620-626).
    - DELETING with replicas left → resend DELETE_REPLICA to every
      remaining replica (:627-645; no in-flight tracking in the model,
      so every replica resends).
    - CLOSED and EMPTY — no live keys reference the container and every
      replica reports CLOSED (isContainerEmpty, :503-510; the
      byte/key-count fields collapse to the key-plane existence test
      here) → DELETE_EMPTY per replica plus one CLEANUP marker
      (deleteContainerReplicas + the DELETE event, :595-617).

    ``keys``: the namespace plane — its per-container existence
    semi-set is the numberOfKeys()==0 gate. Plan: one key-plane
    aggregate (map-side combinable count per container, semi-join
    sized), one replica rollup; the container dim rides broadcasts.
    """
    cd = container_details.select(
        "container_id", F.col("state").alias("c_state")
    )
    rep = replica_details.select(
        "container_id", "datanode_id", "replica_state"
    ).join(F.broadcast(cd), "container_id")
    rep_stats = rep.groupBy("container_id").agg(
        F.count(F.lit(1)).alias("replica_count"),
        F.sum(F.when(F.col("replica_state") == "CLOSED", 0).otherwise(1)).alias(
            "non_closed"
        ),
    )
    live_containers = keys.select("container_id").distinct()

    deleting = cd.filter(F.col("c_state") == "DELETING").join(
        F.broadcast(rep_stats), "container_id", "left"
    )
    cleanup = deleting.filter(
        F.coalesce(F.col("replica_count"), F.lit(0)) == 0
    ).select(
        "container_id",
        F.lit("CLEANUP").alias("action"),
        F.lit(None).cast("long").alias("datanode_id"),
        F.lit("no replicas left: container DELETED").alias("detail"),
    )
    resend = (
        rep.filter(F.col("c_state") == "DELETING")
        .select(
            "container_id",
            F.lit("DELETE_REPLICA").alias("action"),
            F.col("datanode_id").cast("long").alias("datanode_id"),
            F.lit("deleting container: resend replica delete").alias("detail"),
        )
    )
    empty = (
        cd.filter(F.col("c_state") == "CLOSED")
        .join(F.broadcast(rep_stats), "container_id")
        .filter((F.col("replica_count") > 0) & (F.col("non_closed") == 0))
        .join(live_containers, "container_id", "left_anti")
    )
    empty_deletes = rep.join(
        F.broadcast(empty.select("container_id")), "container_id"
    ).select(
        "container_id",
        F.lit("DELETE_EMPTY").alias("action"),
        F.col("datanode_id").cast("long").alias("datanode_id"),
        F.lit("empty closed container: delete replica").alias("detail"),
    )
    empty_cleanup = empty.select(
        "container_id",
        F.lit("CLEANUP").alias("action"),
        F.lit(None).cast("long").alias("datanode_id"),
        F.lit("empty closed container: DELETE event").alias("detail"),
    )
    return (
        cleanup.unionByName(resend)
        .unionByName(empty_deletes)
        .unionByName(empty_cleanup)
        .orderBy(
            "container_id", "action", F.coalesce(F.col("datanode_id"), F.lit(-1))
        )
    )


def pipeline_load(
    pipeline_members: DataFrame,
    pipeline_details: DataFrame,
    nodes_required: int = 3,
) -> DataFrame:
    """Per-datanode pipeline engagement under the reference's counting
    law (PipelinePlacementPolicy.currentPipelineCount,
    PipelinePlacementPolicy.java:92-118): a node's load is its
    membership count MINUS the "deductable" pipelines — RATIS factor-1
    pipelines and CLOSED pipelines of the requested factor. What
    remains is the open/allocated factor-``nodes_required`` engagement
    that counts against ozone.scm.datanode.pipeline.limit.

    Output: (datanode_id, pipeline_count). Plan: one membership⋈detail
    join with the pipeline dim broadcast, then a map-side-combinable
    groupBy(datanode_id).
    """
    pd = pipeline_details.select("pipeline_id", "state", "replication_factor")
    counted = (
        pipeline_members.join(F.broadcast(pd), "pipeline_id")
        .filter(
            (F.col("replication_factor") != 1)
            & ~(
                (F.col("replication_factor") == nodes_required)
                & (F.col("state") == "CLOSED")
            )
        )
    )
    return counted.groupBy("datanode_id").agg(
        F.count(F.lit(1)).alias("pipeline_count")
    )


def pipeline_targets(
    datanodes_df: DataFrame,
    pipeline_members: DataFrame,
    pipeline_details: DataFrame,
    replicas: DataFrame,
    containers_df: DataFrame,
    heavy_node_limit: int = 2,
    min_free_bytes: int = 1_000_000_000,
    nodes_required: int = 3,
) -> DataFrame:
    """PP1 — the pipeline placement proposer, the pipeline twin of the
    RM2 container chooser: given the node plane and current pipeline
    engagement, emit the member set the SCM would choose for the NEXT
    RATIS-3 pipeline (PipelinePlacementPolicy.chooseDatanodes,
    PipelinePlacementPolicy.java:231-246).

    Law, determinized:

    - viable nodes (filterViableNodes, :134-199): HEALTHY + IN_SERVICE,
      enough free space (filterNodesWithSpace; free computed from the
      replica plane as node_free_space does), and pipeline engagement
      BELOW ozone.scm.datanode.pipeline.limit (default 2,
      ScmConfigKeys.java:357), with load counted per
      :func:`pipeline_load`. The surviving list is sorted by pipeline
      load ascending (:162-169 DnWithPipelines sort) — datanode_id
      breaks ties, our standing determinization of the reference's
      arbitrary stream order.
    - anchor (getResultSet :289-298): the reference picks RANDOMLY from
      the load-sorted viable list (chooseNode :374-382); determinized
      to the head of the list — the least-loaded viable node.
    - second (:305-320 chooseNodeBasedOnRackAwareness + :392-410): the
      first viable node in list order on a DIFFERENT rack than the
      anchor; when every viable node shares the anchor's rack, rack
      awareness is off and the pick falls back to plain list order
      (fallBackPickNodes :252-264).
    - third (:322-352 chooseNodeBasedOnSameRack): with rack awareness
      on, the first remaining viable node on the anchor's OWN rack
      (Ratis favors a local quorum partner); if none, fall back to
      list order over the remaining nodes.

    Output: (member_no 1..3, datanode_id, rack, pipeline_count,
    free_bytes, role ∈ {ANCHOR, RACK_SPREAD, SAME_RACK, FALLBACK}).
    Fewer than 3 rows ⇔ the reference throws
    FAILED_TO_FIND_SUITABLE_NODE — the insufficient-cluster marker.

    Plan shape: everything is node-dim sized — the one fact-plane
    touch is the free-space rollup (one replica shuffle); the
    load/rank windows run on the |nodes| dim (a single-partition
    window over a dim, same budget as n2's top-k), and the three picks
    are 1-row broadcast joins, never a collect.
    """
    free = node_free_space(replicas, containers_df, datanodes_df)
    load = pipeline_load(pipeline_members, pipeline_details, nodes_required)
    viable = (
        free.filter(
            (F.col("node_state") == "HEALTHY")
            & (F.col("op_state") == "IN_SERVICE")
            & (F.col("free_bytes") >= min_free_bytes)
        )
        .join(F.broadcast(load), "datanode_id", "left")
        .select(
            "datanode_id",
            "rack",
            "free_bytes",
            F.coalesce(F.col("pipeline_count"), F.lit(0)).alias(
                "pipeline_count"
            ),
        )
        .filter(F.col("pipeline_count") < heavy_node_limit)
        .withColumn(
            "ord",
            F.row_number().over(
                Window.orderBy(F.asc("pipeline_count"), F.asc("datanode_id"))
            ),
        )
    )
    anchor = viable.filter(F.col("ord") == 1)
    a = F.broadcast(
        anchor.select(
            F.col("datanode_id").alias("_aid"), F.col("rack").alias("_arack")
        )
    )
    rest = viable.join(a, viable["ord"] > 1).withColumn(
        "_diff", F.col("rack") != F.col("_arack")
    )
    # second pick: different-rack first (rack awareness), else next in
    # load order (fallback when the cluster is single-rack-viable)
    second = (
        rest.withColumn(
            "_r2",
            F.row_number().over(
                Window.orderBy(F.desc("_diff"), F.asc("ord"))
            ),
        )
        .filter(F.col("_r2") == 1)
        .withColumn(
            "role",
            F.when(F.col("_diff"), F.lit("RACK_SPREAD")).otherwise(
                F.lit("FALLBACK")
            ),
        )
    )
    s = F.broadcast(
        second.select(
            F.col("datanode_id").alias("_sid"),
            F.col("_diff").alias("_rack_aware"),
        )
    )
    third = (
        rest.join(s, rest["datanode_id"] != F.col("_sid"))
        .withColumn("_same_pref", F.col("_rack_aware") & ~F.col("_diff"))
        .withColumn(
            "_r3",
            F.row_number().over(
                Window.orderBy(F.desc("_same_pref"), F.asc("ord"))
            ),
        )
        .filter(F.col("_r3") == 1)
        .withColumn(
            "role",
            F.when(F.col("_same_pref"), F.lit("SAME_RACK")).otherwise(
                F.lit("FALLBACK")
            ),
        )
    )
    cols = ["datanode_id", "rack", "pipeline_count", "free_bytes", "role"]
    return (
        anchor.withColumn("role", F.lit("ANCHOR"))
        .select(F.lit(1).alias("member_no"), *cols)
        .unionByName(second.select(F.lit(2).alias("member_no"), *cols))
        .unionByName(third.select(F.lit(3).alias("member_no"), *cols))
        .orderBy("member_no")
    )


def balancer_moves(
    datanodes_df: DataFrame,
    replicas: DataFrame,
    containers_df: DataFrame,
    threshold: float = 0.1,
    max_size_to_move: int | None = None,
) -> DataFrame:
    """BM1 — the balancer MOVE planner pairing B1's over/under-utilized
    sets into (container, source, target) moves. Design-forward:
    v1.2.0's ContainerBalancer classifies only (initializeIteration,
    ContainerBalancer.java:169-233 — no FindTargetStrategy exists at
    this version), so the pick law below is REPO-DEFINED, determinized,
    and documented here as the oracle of record; it respects the same
    placement law RM2 enforces and the reference's per-iteration byte
    budgets (bytes_over_upper / bytes_under_lower via ratioToBytes,
    :304-312; maxSizeToMoveInGB, :56,124).

    The law:

    1. sources = OVER_UTILIZED nodes, targets = UNDER_UTILIZED nodes
       (exactly B1's classification at the same threshold).
    2. movable containers: CLOSED, used_bytes > 0, holding a replica on
       a source. A container moves AT MOST ONCE per iteration, debited
       from its most-over-utilized source (ties → lowest source id).
    3. source budget: per source, containers picked in (used_bytes
       desc, container_id) order while the running sum stays within
       the source's bytes_over_upper.
    4. target choice: the placement-safe under-utilized node with the
       most headroom (bytes_under_lower desc, id asc). Placement-safe =
       target holds no replica of the container AND rack coverage after
       the move (source rack decrements when this was its only replica
       there AND the move leaves the rack — a same-rack move keeps
       coverage unchanged; target rack adds if new) does not drop below
       min(replication_factor, total racks) — the
       ContainerPlacementStatusDefault law — nor below its current
       value if already under it.
    5. target budget: per target, accepted moves in (used_bytes desc,
       container_id) order while the running sum stays within
       bytes_under_lower.
    6. optional global cap ``max_size_to_move``: running sum over all
       surviving moves in (used_bytes desc, container_id) order.

    Output: (container_id, source_datanode_id, target_datanode_id,
    used_bytes, source_rack, target_rack). Plan: the only fact-plane
    shuffles are the replica rollups (per-node used, per-container rack
    facts + per-container holder/covered-rack sets); candidate moves
    are replicas semi-joined to the BROADCAST source set; the target
    dim is pruned to each rack's top (max holders-per-rack + 1) by
    headroom — value-identical (proof at the prune below) — and rides
    a broadcast product whose exclusions are array probes and whose
    pick is a map-side-combinable struct argmax, so the product never
    shuffles (the 20M-replica saturated-budget probe GC-thrashed on
    the old |cand|×|under| window); budgets are per-node windows
    (natural keys, no skew).
    """
    scratch.fresh("balancer_moves")
    # util feeds BOTH the source and target sets; cont_racks feeds the
    # coverage facts and both rack-count joins — persist each so the
    # replica-plane rollups behind them run once (node/rack-dim sized)
    util = scratch.keep(
        "balancer_moves",
        balancer_utilization(datanodes_df, replicas, containers_df, threshold),
    )
    racks = datanodes_df.select("datanode_id", "rack")
    sources = F.broadcast(
        util.filter(F.col("classification") == "OVER_UTILIZED")
        .join(racks, "datanode_id")
        .select(
            F.col("datanode_id").alias("source_datanode_id"),
            F.col("rack").alias("source_rack"),
            "bytes_over_upper",
        )
    )
    rep_rack = replicas.join(F.broadcast(racks), "datanode_id")
    cont_racks = scratch.keep(
        "balancer_moves",
        rep_rack.groupBy("container_id", "rack").agg(
            F.count(F.lit(1)).alias("rack_cnt")
        ),
    )
    # cov_before + the covered-rack SET in one rollup: the set (≤ one
    # entry per rack a container touches) turns the post-product
    # coverage join into an array_contains over the broadcast pair —
    # the product side never shuffles
    cov = cont_racks.groupBy("container_id").agg(
        F.count(F.lit(1)).alias("cov_before"),
        F.collect_list("rack").alias("covered_racks"),
    )
    # Per-rack target prune (the rm1 disaster-fix applied to the move
    # planner — VERDICT r6 #4 scale probe exposed the unpruned
    # |cand| × |under| product GC-thrashing at 20M replicas with
    # saturated budgets). Value-identical: the pick law scans targets
    # in (headroom desc, id asc) order and a container disqualifies
    # (a) its holder nodes — at most max(rack_cnt) in any ONE rack —
    # and (b) whole racks (the coverage law judges a rack uniformly),
    # so the chosen target always sits inside its rack's top
    # (max(rack_cnt) + 1) prefix; pruned rows can never be rank 1 for
    # any container, and removing never-chosen rows cannot change an
    # argmax. Fan-out: |cand| × |racks|·(rf+1) instead of
    # |cand| × |under-nodes|.
    kmax = cont_racks.agg((F.max("rack_cnt") + 1).alias("_keep"))
    targets = F.broadcast(
        util.filter(F.col("classification") == "UNDER_UTILIZED")
        .join(racks, "datanode_id")
        .select(
            F.col("datanode_id").alias("target_datanode_id"),
            F.col("rack").alias("target_rack"),
            "bytes_under_lower",
        )
        .withColumn(
            "_tr",
            F.row_number().over(
                Window.partitionBy("target_rack").orderBy(
                    F.desc("bytes_under_lower"), F.asc("target_datanode_id")
                )
            ),
        )
        .crossJoin(F.broadcast(kmax))
        .filter(F.col("_tr") <= F.col("_keep"))
        .drop("_tr", "_keep")
    )
    # holder ids per container WITHIN the pruned target set (≤ rf
    # entries): replaces the post-product anti-join, so the no-target-
    # holds-a-replica exclusion is an array_contains too
    tgt_holders = (
        replicas.join(
            F.broadcast(
                targets.select(
                    F.col("target_datanode_id").alias("datanode_id")
                )
            ),
            "datanode_id",
        )
        .groupBy("container_id")
        .agg(F.collect_list("datanode_id").alias("target_holder_ids"))
    )
    total_racks = datanodes_df.agg(
        F.countDistinct("rack").alias("total_racks")
    )
    movable = F.broadcast(
        containers_df.filter(
            (F.col("state") == "CLOSED") & (F.col("used_bytes") > 0)
        ).select("container_id", "replication_factor", "used_bytes")
    )
    cand = (
        replicas.withColumnRenamed("datanode_id", "source_datanode_id")
        .join(sources, "source_datanode_id")
        .join(movable, "container_id")
        # one move per container: debit the most-over source
        .withColumn(
            "_c1",
            F.row_number().over(
                Window.partitionBy("container_id").orderBy(
                    F.desc("bytes_over_upper"), F.asc("source_datanode_id")
                )
            ),
        )
        .filter(F.col("_c1") == 1)
        # source-side budget prefix
        .withColumn(
            "_src_cum",
            F.sum("used_bytes").over(
                Window.partitionBy("source_datanode_id")
                .orderBy(F.desc("used_bytes"), F.asc("container_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("_src_cum") <= F.col("bytes_over_upper"))
        .join(cov, "container_id")
        .join(
            cont_racks.select(
                "container_id",
                F.col("rack").alias("source_rack"),
                F.col("rack_cnt").alias("src_rack_cnt"),
            ),
            ["container_id", "source_rack"],
        )
        .join(tgt_holders, "container_id", "left")
    )
    # Same-rack move: the replica stays on its rack, so coverage is
    # unchanged — the src-rack decrement must NOT fire (otherwise a
    # source that is its rack's only holder computes cov_before-1 and a
    # valid same-rack move is spuriously rejected).
    cov_after = (
        F.col("cov_before")
        - F.when(
            (F.col("src_rack_cnt") == 1)
            & (F.col("target_rack") != F.col("source_rack")),
            1,
        ).otherwise(0)
        + F.when(F.col("target_rack_covered"), 0).otherwise(1)
    )
    placement_min = F.least(F.col("replication_factor"), F.col("total_racks"))
    # The target pick is a pure map-side pass: the pruned target dim
    # rides a broadcast product, the holder/coverage exclusions are
    # array probes against per-container collected sets (no join after
    # the product), and the argmax is a map-side-combinable struct max
    # instead of a |cand|×|targets| row_number window — shuffle volume
    # is |cand| rows, never the product.
    safe = (
        cand.crossJoin(targets)
        .filter(
            F.col("target_holder_ids").isNull()
            | ~F.array_contains(
                F.col("target_holder_ids"), F.col("target_datanode_id")
            )
        )
        .withColumn(
            "target_rack_covered",
            F.array_contains(F.col("covered_racks"), F.col("target_rack")),
        )
        .crossJoin(F.broadcast(total_racks))
        .filter(
            (cov_after >= placement_min) | (cov_after >= F.col("cov_before"))
        )
    )
    picked = (
        safe.groupBy("container_id")
        .agg(
            F.max(
                F.struct(
                    F.col("bytes_under_lower"),
                    (-F.col("target_datanode_id")).alias("_neg_id"),
                    F.col("target_datanode_id").alias("target_datanode_id"),
                    F.col("target_rack").alias("target_rack"),
                    F.col("source_datanode_id").alias("source_datanode_id"),
                    F.col("source_rack").alias("source_rack"),
                    F.col("used_bytes").alias("used_bytes"),
                )
            ).alias("m")
        )
        .select(
            "container_id",
            F.col("m.source_datanode_id").alias("source_datanode_id"),
            F.col("m.target_datanode_id").alias("target_datanode_id"),
            F.col("m.used_bytes").alias("used_bytes"),
            F.col("m.source_rack").alias("source_rack"),
            F.col("m.target_rack").alias("target_rack"),
            F.col("m.bytes_under_lower").alias("bytes_under_lower"),
        )
    )
    paired = (
        picked
        # target-side budget prefix
        .withColumn(
            "_tgt_cum",
            F.sum("used_bytes").over(
                Window.partitionBy("target_datanode_id")
                .orderBy(F.desc("used_bytes"), F.asc("container_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("_tgt_cum") <= F.col("bytes_under_lower"))
    )
    if max_size_to_move is not None:
        paired = paired.withColumn(
            "_g_cum",
            F.sum("used_bytes").over(
                Window.orderBy(F.desc("used_bytes"), F.asc("container_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).filter(F.col("_g_cum") <= F.lit(max_size_to_move))
    return paired.select(
        "container_id",
        "source_datanode_id",
        "target_datanode_id",
        "used_bytes",
        "source_rack",
        "target_rack",
    ).orderBy("container_id")


def dn_block_deletion_plan(
    candidates: DataFrame, block_limit_per_interval: int
) -> DataFrame:
    """Datanode BlockDeletingService interval plan — the TopN ordered
    choosing policy under the per-interval block budget
    (container-service/.../background/BlockDeletingService.java:140-188
    service scan + isDeletionAllowed closed-only gate;
    TopNOrderedContainerDeletionChoosingPolicy.java:47-85: sort by
    pending-deletion count descending, walk greedily, the LAST chosen
    container takes only the remaining budget — "there is no empty
    container in this result").

    ``candidates``: (datanode_id, container_id, pending) — closed
    containers with pending > 0 on each datanode.  The reference's
    equal-pending order is HashMap-iteration arbitrary; determinized
    to container_id ascending (the BM1 precedent: a repo-defined total
    order documented as the oracle of record).

    Scale shape: one window per datanode_id over its candidate set —
    the same per-node prefix-sum budget family as balancer_moves; no
    global sort, no cross-node shuffle beyond the datanode_id key.
    """
    w = Window.partitionBy("datanode_id").orderBy(
        F.desc("pending"), F.asc("container_id")
    )
    cum_prev = F.coalesce(
        F.sum("pending").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        candidates.select(
            "datanode_id",
            "container_id",
            "pending",
            F.least(
                F.col("pending"), F.lit(block_limit_per_interval) - cum_prev
            ).alias("num_blocks_to_delete"),
        )
        .filter(F.col("num_blocks_to_delete") > 0)
        .orderBy("datanode_id", F.desc("pending"), "container_id")
    )
