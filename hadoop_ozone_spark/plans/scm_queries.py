"""Round-4 SCM service-plane queries: container balancer utilization,
datanode decommission/maintenance readiness, and the deleted-block
log — each a relational re-expression of an SCM background service's
per-iteration scan (see operators/scm.py for the cited laws).

Oracles follow model.py's cross-engine determinism rules; the only
floats (utilization ratios, ratio-to-bytes products) are single IEEE
ops over exactly-represented BIGINT sums, so they are bit-identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_ozone_spark import model
from hadoop_ozone_spark.operators import scm


# --- B1: balancer utilization classification ------------------------------

def b1_balancer_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scm.balancer_utilization(
        model.datanodes(spark, sf_dir),
        model.container_replicas(spark, sf_dir),
        model.containers(spark, sf_dir),
        threshold=0.1,
    )


B1_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    """nodes AS (
  SELECT d.datanode_id, d.hostname, d.capacity_bytes,
         COALESCE(u.used_bytes, 0) AS used_bytes
  FROM datanodes d
  LEFT JOIN (
    SELECT r.datanode_id, CAST(SUM(c.used_bytes) AS BIGINT) AS used_bytes
    FROM container_replicas r JOIN containers c USING (container_id)
    GROUP BY r.datanode_id
  ) u USING (datanode_id)
  WHERE d.node_state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
)""",
    """totals AS (
  SELECT SUM(used_bytes) AS cluster_used,
         SUM(capacity_bytes) AS cluster_capacity
  FROM nodes
)""",
    body="""SELECT datanode_id, hostname, capacity_bytes, used_bytes,
  CAST(used_bytes AS DOUBLE) / capacity_bytes AS utilization,
  CAST(cluster_used AS DOUBLE) / cluster_capacity AS cluster_avg_utilization,
  CASE
    WHEN CAST(used_bytes AS DOUBLE) / capacity_bytes
         > CAST(cluster_used AS DOUBLE) / cluster_capacity + 0.1
      THEN 'OVER_UTILIZED'
    WHEN CAST(used_bytes AS DOUBLE) / capacity_bytes
         < CAST(cluster_used AS DOUBLE) / cluster_capacity - 0.1
      THEN 'UNDER_UTILIZED'
    ELSE 'WITHIN_THRESHOLD' END AS classification,
  CASE
    WHEN CAST(used_bytes AS DOUBLE) / capacity_bytes
         > CAST(cluster_used AS DOUBLE) / cluster_capacity + 0.1
      THEN capacity_bytes * (CAST(used_bytes AS DOUBLE) / capacity_bytes)
           - capacity_bytes * (CAST(cluster_used AS DOUBLE) / cluster_capacity + 0.1)
    ELSE 0.0 END AS bytes_over_upper,
  CASE
    WHEN CAST(used_bytes AS DOUBLE) / capacity_bytes
         < CAST(cluster_used AS DOUBLE) / cluster_capacity - 0.1
      THEN capacity_bytes * (CAST(cluster_used AS DOUBLE) / cluster_capacity - 0.1)
           - capacity_bytes * (CAST(used_bytes AS DOUBLE) / capacity_bytes)
    ELSE 0.0 END AS bytes_under_lower
FROM nodes CROSS JOIN totals
ORDER BY datanode_id""",
)


# --- D1: decommission / maintenance-entry readiness -----------------------

def d1_decommission_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scm.decommission_status(
        model.containers(spark, sf_dir),
        model.container_replicas(spark, sf_dir),
        model.datanodes(spark, sf_dir),
    )


D1_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    """counts AS (
  SELECT r.container_id,
    SUM(CASE WHEN d.op_state IN ('DECOMMISSIONING','DECOMMISSIONED',
                                 'IN_MAINTENANCE','ENTERING_MAINTENANCE')
             THEN 0 ELSE 1 END) AS healthy_count,
    SUM(CASE WHEN d.op_state IN ('IN_MAINTENANCE','ENTERING_MAINTENANCE')
             THEN 1 ELSE 0 END) AS maintenance_count
  FROM container_replicas r
  LEFT JOIN datanodes d USING (datanode_id)
  GROUP BY r.container_id
)""",
    """suff AS (
  SELECT c.container_id,
    (CASE
       WHEN c.replication_factor - COALESCE(ct.healthy_count, 0) < 0
         THEN c.replication_factor - COALESCE(ct.healthy_count, 0)
       WHEN c.replication_factor - COALESCE(ct.healthy_count, 0) > 0
         THEN GREATEST(
           GREATEST(0, LEAST(c.replication_factor, 2) - COALESCE(ct.healthy_count, 0)),
           GREATEST(0, c.replication_factor - COALESCE(ct.healthy_count, 0)
                       - COALESCE(ct.maintenance_count, 0)))
       ELSE 0 END) <= 0 AS sufficiently_replicated,
    c.state IN ('CLOSED', 'QUASI_CLOSED') AS healthy_state
  FROM containers c
  LEFT JOIN counts ct USING (container_id)
)""",
    """per_node AS (
  SELECT r.datanode_id,
    COUNT(*) AS container_count,
    CAST(SUM(CASE WHEN s.sufficiently_replicated THEN 1 ELSE 0 END) AS BIGINT) AS sufficiently_replicated,
    CAST(SUM(CASE WHEN s.sufficiently_replicated THEN 0 ELSE 1 END) AS BIGINT) AS under_replicated,
    CAST(SUM(CASE WHEN s.healthy_state THEN 0 ELSE 1 END) AS BIGINT) AS unhealthy
  FROM container_replicas r
  JOIN datanodes d USING (datanode_id)
  JOIN suff s USING (container_id)
  WHERE d.op_state IN ('DECOMMISSIONING', 'ENTERING_MAINTENANCE')
  GROUP BY r.datanode_id
)""",
    body="""SELECT d.datanode_id, d.hostname, d.op_state,
  COALESCE(p.container_count, 0) AS container_count,
  COALESCE(p.sufficiently_replicated, 0) AS sufficiently_replicated,
  COALESCE(p.under_replicated, 0) AS under_replicated,
  COALESCE(p.unhealthy, 0) AS unhealthy,
  (COALESCE(p.under_replicated, 0) = 0
   AND COALESCE(p.unhealthy, 0) = 0) AS can_complete
FROM datanodes d
LEFT JOIN per_node p USING (datanode_id)
WHERE d.op_state IN ('DECOMMISSIONING', 'ENTERING_MAINTENANCE')
ORDER BY d.datanode_id""",
)


# --- D2: deleted-block log ------------------------------------------------

def d2_pending_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scm.pending_deletion_by_datanode(
        model.deleted_block_txns_bucketed(spark, sf_dir),
        model.container_replicas_bucketed(spark, sf_dir),
        model.containers_bucketed(spark, sf_dir),
    )


D2_PENDING_SQL = model.with_ctes(
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    model.DELETED_BLOCK_TXNS_CTE,
    body="""SELECT r.datanode_id,
  COUNT(*) AS txn_count,
  CAST(SUM(t.block_count) AS BIGINT) AS block_count,
  COUNT(DISTINCT t.container_id) AS container_count
FROM deleted_block_txns t
JOIN containers c USING (container_id)
JOIN container_replicas r USING (container_id)
WHERE t.retry_count >= 0 AND t.retry_count <= 4096
  AND c.state NOT IN ('OPEN', 'CLOSING')
GROUP BY r.datanode_id
ORDER BY r.datanode_id""",
)


def d2_failed_txns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scm.failed_deletion_txns(
        model.deleted_block_txns(spark, sf_dir),
        model.containers(spark, sf_dir),
        limit=100,
    )


D2_FAILED_SQL = model.with_ctes(
    model.CONTAINERS_CTE,
    model.DELETED_BLOCK_TXNS_CTE,
    body="""SELECT t.txid, t.container_id,
  COALESCE(c.state, 'NOT_FOUND') AS container_state,
  t.block_count
FROM deleted_block_txns t
LEFT JOIN containers c USING (container_id)
WHERE t.retry_count = -1
ORDER BY t.txid
LIMIT 100""",
)


QUERIES = {
    "b1_balancer_utilization": b1_balancer_utilization,
    "d1_decommission_status": d1_decommission_status,
    "d2_pending_deletion": d2_pending_deletion,
    "d2_failed_txns": d2_failed_txns,
}

ORACLES = {
    "b1_balancer_utilization": B1_SQL,
    "d1_decommission_status": D1_SQL,
    "d2_pending_deletion": D2_PENDING_SQL,
    "d2_failed_txns": D2_FAILED_SQL,
}


# --- SM1: safe-mode exit rules --------------------------------------------

def sm1_safemode_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scm.safe_mode_status(
        model.containers(spark, sf_dir),
        model.container_replicas(spark, sf_dir),
        model.datanodes(spark, sf_dir),
        model.pipelines(spark, sf_dir),
        model.pipeline_members(spark, sf_dir),
    )


SM1_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    model.PIPELINES_CTE,
    model.PIPELINE_MEMBERS_CTE,
    """rules AS (
  SELECT 'CONTAINER' AS rule,
    CAST(SUM(COALESCE(r.seen, 0)) AS BIGINT) AS current_count,
    (count(*) * 99 + 99) // 100 AS required_count,
    count(*) AS total_count
  FROM (SELECT container_id FROM containers
        WHERE state IN ('CLOSED', 'QUASI_CLOSED')) c
  LEFT JOIN (SELECT DISTINCT container_id, 1 AS seen
             FROM container_replicas) r USING (container_id)
  UNION ALL
  SELECT 'DATANODE', count(*), CAST(1 AS BIGINT), count(*) FROM datanodes
  UNION ALL
  SELECT 'HEALTHY_PIPELINE',
    CAST(SUM(CASE WHEN state = 'OPEN' THEN 1 ELSE 0 END) AS BIGINT),
    (count(*) * 10 + 99) // 100,
    count(*)
  FROM pipelines WHERE replication_factor = 3
  UNION ALL
  SELECT 'ONE_REPLICA_PIPELINE',
    CAST(SUM(CASE WHEN p.state = 'OPEN' AND m.seen = 1 THEN 1 ELSE 0 END) AS BIGINT),
    (count(*) * 90 + 99) // 100,
    count(*)
  FROM (SELECT pipeline_id, state FROM pipelines WHERE replication_factor = 3) p
  LEFT JOIN (SELECT DISTINCT pm.pipeline_id, 1 AS seen
             FROM pipeline_members pm
             JOIN datanodes d USING (datanode_id)
             WHERE d.node_state = 'HEALTHY') m USING (pipeline_id)
)""",
    body="""SELECT rule, current_count, required_count, total_count,
  current_count >= required_count AS satisfied
FROM rules ORDER BY rule""",
)

QUERIES["sm1_safemode_status"] = sm1_safemode_status
ORACLES["sm1_safemode_status"] = SM1_SQL


# --- C1 / P2: container page + pipeline rack spread ------------------------

def c1_list_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/containers page (ContainerEndpoint.java:101-129): id-ordered
    ContainerMetadata resuming after prev_key=50."""
    from hadoop_ozone_spark.operators import recon

    return recon.container_listing(
        model.om_keys_by_container(spark, sf_dir), prev_key=50, limit=100
    )


C1_SQL = model.with_ctes(
    model.OM_KEYS_CTE,
    body="""SELECT container_id, count(*) AS number_of_keys
FROM om_keys
WHERE container_id > 50
GROUP BY container_id
ORDER BY container_id
LIMIT 100""",
)


def p2_pipeline_rack_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline rack-placement validation (operators/recon.py
    pipeline_rack_spread law)."""
    from hadoop_ozone_spark.operators import recon

    return recon.pipeline_rack_spread(
        model.pipelines(spark, sf_dir),
        model.pipeline_members(spark, sf_dir),
        model.datanodes(spark, sf_dir),
    )


P2_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.PIPELINES_CTE,
    model.PIPELINE_MEMBERS_CTE,
    """spread AS (
  SELECT m.pipeline_id,
    count(*) AS member_count,
    count(DISTINCT d.rack) AS actual_racks
  FROM pipeline_members m
  JOIN datanodes d USING (datanode_id)
  GROUP BY m.pipeline_id
)""",
    """rack_total AS (
  SELECT count(DISTINCT rack) AS total_racks FROM datanodes
)""",
    body="""SELECT p.pipeline_id, p.state, p.replication_factor,
  COALESCE(s.member_count, 0) AS member_count,
  COALESCE(s.actual_racks, 0) AS actual_racks,
  LEAST(CAST(p.replication_factor AS BIGINT), t.total_racks) AS expected_racks,
  COALESCE(s.actual_racks, 0)
    < LEAST(CAST(p.replication_factor AS BIGINT), t.total_racks) AS mis_replicated
FROM pipelines p
LEFT JOIN spread s USING (pipeline_id)
CROSS JOIN rack_total t
ORDER BY p.pipeline_id""",
)

QUERIES["c1_list_containers"] = c1_list_containers
QUERIES["p2_pipeline_rack_spread"] = p2_pipeline_rack_spread
ORACLES["c1_list_containers"] = C1_SQL
ORACLES["p2_pipeline_rack_spread"] = P2_SQL


# --- RM1/RM2: ReplicationManager action planner ----------------------------
#
# The shared oracle derivation for the action planner: replica view ⋈
# node dim, per-container counts, candidate free space, the rack-aware
# ADD ranking, and the placement-preserving DELETE ranking — the same
# CTE stack feeds both rm1 (the action set) and rm2 (the chooser
# surface), mirroring how the Spark side shares placement_candidates.

_RM_STACK = (
    """rep AS (
  SELECT r.container_id, r.datanode_id, d.rack, d.node_state, d.op_state
  FROM rm_replicas r JOIN datanodes d USING (datanode_id)
)""",
    """rm_counts AS (
  SELECT container_id, count(*) AS replica_count,
         CAST(SUM(CASE WHEN node_state = 'HEALTHY' THEN 1 ELSE 0 END)
              AS BIGINT) AS healthy_source_count
  FROM rep GROUP BY container_id
)""",
    """rm_scope AS (
  SELECT c.container_id, c.replication_factor,
         COALESCE(t.replica_count, 0) AS replica_count,
         COALESCE(t.healthy_source_count, 0) AS healthy_source_count
  FROM containers c LEFT JOIN rm_counts t USING (container_id)
  WHERE c.state <> 'DELETED'
)""",
    """node_used AS (
  SELECT r.datanode_id, CAST(SUM(c.used_bytes) AS BIGINT) AS node_used
  FROM rm_replicas r JOIN containers c USING (container_id)
  GROUP BY r.datanode_id
)""",
    """cand AS (
  SELECT d.datanode_id, d.rack,
         d.capacity_bytes - COALESCE(u.node_used, 0) AS free_bytes
  FROM datanodes d LEFT JOIN node_used u USING (datanode_id)
  WHERE d.node_state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
)""",
    """rm_under AS (
  SELECT * FROM rm_scope
  WHERE replica_count > 0 AND replica_count < replication_factor
)""",
    """add_pairs AS (
  SELECT u.container_id, u.replication_factor, u.replica_count,
         c.datanode_id, c.rack,
         cr.rack IS NOT NULL AS rack_covered,
         c.free_bytes
  FROM (SELECT * FROM rm_under WHERE healthy_source_count > 0) u
  CROSS JOIN cand c
  LEFT JOIN (SELECT DISTINCT container_id, datanode_id FROM rm_replicas) h
    ON u.container_id = h.container_id AND c.datanode_id = h.datanode_id
  LEFT JOIN (SELECT DISTINCT container_id, rack FROM rep) cr
    ON u.container_id = cr.container_id AND c.rack = cr.rack
  WHERE h.datanode_id IS NULL
)""",
    """add_ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY container_id
           ORDER BY CASE WHEN rack_covered THEN 1 ELSE 0 END,
                    rack_rank, free_bytes DESC, datanode_id) AS rnk
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY container_id, rack
             ORDER BY free_bytes DESC, datanode_id) AS rack_rank
    FROM add_pairs
  )
)""",
)

_RM_DELETE_STACK = (
    """rack_total AS (SELECT count(DISTINCT rack) AS total_racks FROM datanodes)""",
    """elig AS (
  SELECT r.container_id, r.datanode_id, r.rack,
         o.replication_factor, o.replica_count,
         row_number() OVER (PARTITION BY r.container_id, r.rack
                            ORDER BY r.datanode_id) AS rir
  FROM rep r
  JOIN (SELECT * FROM rm_scope WHERE replica_count > replication_factor) o
    USING (container_id)
  WHERE r.op_state = 'IN_SERVICE'
)""",
    """elig_stats AS (
  SELECT container_id, count(DISTINCT rack) AS elig_racks
  FROM elig GROUP BY container_id
)""",
    """del_ranked AS (
  SELECT e.*, s.elig_racks, t.total_racks,
         e.rir > 1 AS is_dup,
         row_number() OVER (PARTITION BY e.container_id
           ORDER BY CASE WHEN e.rir > 1 THEN 0 ELSE 1 END,
                    e.rir DESC, e.datanode_id DESC) AS drnk,
         row_number() OVER (PARTITION BY e.container_id, e.rir > 1
           ORDER BY e.datanode_id DESC) AS single_rank
  FROM elig e
  JOIN elig_stats s USING (container_id)
  CROSS JOIN rack_total t
)""",
)


def rm1_replication_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplicationManager action set: ADD/DELETE replica commands with
    rack-aware targets (operators/scm.py replication_actions law)."""
    reps = model.rm_replicas_bucketed(spark, sf_dir)
    return scm.replication_actions(
        model.containers(spark, sf_dir),
        reps,
        model.datanodes(spark, sf_dir),
    )


# named so tests/test_replication_actions.py can replay the per-container
# stack over its own tables without restating the law
_RM1_BODY = """SELECT * FROM (
  SELECT container_id, 'MISSING' AS action,
         CAST(NULL AS BIGINT) AS datanode_id, CAST(NULL AS VARCHAR) AS rack,
         'no replicas found' AS detail
  FROM rm_scope WHERE replica_count = 0
  UNION ALL
  SELECT container_id, 'NO_HEALTHY_SOURCE',
         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
         'no healthy source replica'
  FROM rm_under WHERE healthy_source_count = 0
  UNION ALL
  SELECT container_id, 'ADD_REPLICA', datanode_id, rack,
         concat('add ', replication_factor - replica_count,
                ' replica(s): have ', replica_count, ' of ', replication_factor)
  FROM add_ranked WHERE rnk <= replication_factor - replica_count
  UNION ALL
  SELECT container_id, 'DELETE_REPLICA', datanode_id, rack,
         concat('delete ', replica_count - replication_factor,
                ' excess replica(s): have ', replica_count, ' of ',
                replication_factor)
  FROM del_ranked
  WHERE drnk <= replica_count - replication_factor
    AND (is_dup OR single_rank <= GREATEST(
          0, elig_racks - LEAST(replication_factor, total_racks)))
)
ORDER BY container_id, action, COALESCE(datanode_id, -1)"""

RM1_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.RM_REPLICAS_CTE,
    *_RM_STACK,
    *_RM_DELETE_STACK,
    body=_RM1_BODY,
)


def rm2_placement_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rack-aware placement chooser surface for the lowest
    under-replicated container (operators/scm.py placement_probe)."""
    return scm.placement_probe(
        model.containers(spark, sf_dir),
        model.rm_replicas(spark, sf_dir),
        model.datanodes(spark, sf_dir),
        limit=10,
    )


_RM2_BODY = """SELECT container_id, rnk AS rank, datanode_id, rack,
       rack_covered, free_bytes
FROM add_ranked
WHERE container_id = (SELECT min(container_id) FROM rm_under
                      WHERE healthy_source_count > 0)
  AND rnk <= 10
ORDER BY rnk"""

RM2_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.RM_REPLICAS_CTE,
    *_RM_STACK,
    body=_RM2_BODY,
)


def n2_datanode_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ozone admin datanode usageinfo --most-used` top-10
    (SCMNodeManager.java:676-688; operators/scm.py datanode_usage)."""
    return scm.datanode_usage(
        model.container_replicas(spark, sf_dir),
        model.containers(spark, sf_dir),
        model.datanodes(spark, sf_dir),
        count=10,
        most_used=True,
    )


N2_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    """node_used AS (
  SELECT r.datanode_id, CAST(SUM(c.used_bytes) AS BIGINT) AS node_used
  FROM container_replicas r JOIN containers c USING (container_id)
  GROUP BY r.datanode_id
)""",
    body="""SELECT d.datanode_id, d.hostname, d.capacity_bytes,
  COALESCE(u.node_used, 0) AS used_bytes,
  d.capacity_bytes - COALESCE(u.node_used, 0) AS remaining_bytes,
  CAST(COALESCE(u.node_used, 0) AS DOUBLE) / d.capacity_bytes AS percent_used
FROM datanodes d
LEFT JOIN node_used u USING (datanode_id)
WHERE d.node_state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
ORDER BY CAST(d.capacity_bytes - COALESCE(u.node_used, 0) AS DOUBLE)
           / d.capacity_bytes ASC,
         d.datanode_id
LIMIT 10""",
)

QUERIES["rm1_replication_actions"] = rm1_replication_actions
QUERIES["rm2_placement_targets"] = rm2_placement_targets
QUERIES["n2_datanode_usage"] = n2_datanode_usage
ORACLES["rm1_replication_actions"] = RM1_SQL
ORACLES["rm2_placement_targets"] = RM2_SQL
ORACLES["n2_datanode_usage"] = N2_SQL


# --- H1: access heatmap rollup --------------------------------------------

def h1_access_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical namespace access counts (operators/audit.py
    access_heatmap — ROLLUP volume→bucket→dir)."""
    from hadoop_ozone_spark.operators import audit as audit_ops

    return audit_ops.access_heatmap(model.audit_log(spark, sf_dir))


H1_SQL = model.with_ctes(
    model.AUDIT_LOG_CTE,
    body="""SELECT volume, bucket, key_dir,
  count(*) AS access_count,
  count(DISTINCT "user") AS distinct_users
FROM audit_log
GROUP BY ROLLUP (volume, bucket, key_dir)
ORDER BY volume NULLS FIRST, bucket NULLS FIRST, key_dir NULLS FIRST""",
)

QUERIES["h1_access_heatmap"] = h1_access_heatmap
ORACLES["h1_access_heatmap"] = H1_SQL


# --- RM3: close-command plane ----------------------------------------------

def rm3_close_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplicationManager close dispatch: CLOSING resend, quasi-closed
    force-close at max BCSID under quorum, unstable-replica handling
    (operators/scm.py close_actions law)."""
    reps = model.rm_replica_details_bucketed(spark, sf_dir)
    return scm.close_actions(model.rm_container_details(spark, sf_dir), reps)


RM3_SQL = model.with_ctes(
    model.RM_REPLICAS_CTE,
    model.RM_CONTAINER_DETAILS_CTE,
    model.RM_REPLICA_DETAILS_CTE,
    """rep AS (
  SELECT r.container_id, r.datanode_id, r.replica_state, r.sequence_id,
         c.state AS c_state, c.replication_factor, c.sequence_id AS c_seq
  FROM rm_replica_details r
  JOIN rm_container_details c USING (container_id)
)""",
    """quorum AS (
  SELECT container_id,
         count(DISTINCT datanode_id) AS qc_nodes,
         max(sequence_id) AS max_seq
  FROM rep
  WHERE c_state = 'QUASI_CLOSED' AND replica_state = 'QUASI_CLOSED'
  GROUP BY container_id
)""",
    """rcounts AS (
  SELECT container_id, count(*) AS replica_count FROM rep GROUP BY container_id
)""",
    """mismatched AS (
  SELECT rep.*
  FROM rep
  JOIN rcounts USING (container_id)
  LEFT JOIN quorum USING (container_id)
  WHERE rcounts.replica_count = rep.replication_factor
    AND (rep.c_state = 'CLOSED'
         OR (rep.c_state = 'QUASI_CLOSED'
             AND NOT (COALESCE(quorum.qc_nodes, 0) > rep.replication_factor / 2)))
    AND rep.replica_state <> rep.c_state
)""",
    body="""SELECT * FROM (
  SELECT container_id, 'CLOSE' AS action,
         datanode_id, 'container CLOSING: resend close' AS detail
  FROM rep WHERE c_state = 'CLOSING'
  UNION ALL
  SELECT rep.container_id, 'FORCE_CLOSE', rep.datanode_id,
         concat('force close at BCSID ', q.max_seq)
  FROM rep JOIN quorum q USING (container_id)
  WHERE rep.c_state = 'QUASI_CLOSED' AND rep.replica_state = 'QUASI_CLOSED'
    AND q.qc_nodes > rep.replication_factor / 2
    AND rep.sequence_id = q.max_seq
  UNION ALL
  SELECT container_id, 'CLOSE', datanode_id, 'unstable replica: close'
  FROM mismatched WHERE replica_state IN ('OPEN', 'CLOSING')
  UNION ALL
  SELECT container_id, 'FORCE_CLOSE', datanode_id,
         'unstable quasi-closed replica at container BCSID'
  FROM mismatched
  WHERE replica_state = 'QUASI_CLOSED' AND sequence_id = c_seq
  UNION ALL
  SELECT container_id, 'DELETE_UNHEALTHY', datanode_id,
         'unhealthy replica: delete one per iteration'
  FROM (
    SELECT container_id, datanode_id,
           row_number() OVER (PARTITION BY container_id
                              ORDER BY datanode_id) AS rn
    FROM mismatched
    WHERE replica_state NOT IN ('OPEN', 'CLOSING')
      AND NOT (replica_state = 'QUASI_CLOSED' AND sequence_id = c_seq)
  ) WHERE rn = 1
)
ORDER BY container_id, action, datanode_id""",
)

QUERIES["rm3_close_actions"] = rm3_close_actions
ORACLES["rm3_close_actions"] = RM3_SQL


# --- P3 / RM4: pipeline scrubber + container delete plane ------------------

_SCRUB_NOW_MS = 1_600_000_000_000 + 50 * 86_400_000  # day 50 of the window


def p3_pipeline_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background pipeline scrubber actions (SCMPipelineManager.java:
    511-545; operators/scm.py pipeline_scrub): RATIS-3 scope, stale
    ALLOCATED → CLOSE, CLOSED → REMOVE. The probe time sits mid-window
    so both age classes occur."""
    return scm.pipeline_scrub(
        model.pipeline_details(spark, sf_dir),
        now_ms=_SCRUB_NOW_MS,
        allocated_timeout_ms=10 * 86_400_000,
    )


P3_SQL = model.with_ctes(
    model.PIPELINE_DETAILS_CTE,
    body=f"""SELECT pipeline_id, state,
  {_SCRUB_NOW_MS} - created_ms AS age_ms,
  CASE WHEN state = 'ALLOCATED'
            AND {_SCRUB_NOW_MS} - created_ms >= {10 * 86_400_000}
         THEN 'CLOSE'
       WHEN state = 'CLOSED' THEN 'REMOVE' END AS action
FROM pipeline_details
WHERE replication_factor = 3
  AND (CASE WHEN state = 'ALLOCATED'
                 AND {_SCRUB_NOW_MS} - created_ms >= {10 * 86_400_000}
              THEN 'CLOSE'
            WHEN state = 'CLOSED' THEN 'REMOVE' END) IS NOT NULL
ORDER BY pipeline_id""",
)


def rm4_delete_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container delete plane (ReplicationManager.java:503-510,
    595-617, 620-645; operators/scm.py delete_actions). The live-key
    plane is restricted to container_id % 5 != 2 — the GC'd-namespace
    state in which some CLOSED containers genuinely hold no keys, so
    the isContainerEmpty branch has verifiable work (with the raw shim
    every container is referenced and the branch would be dead under
    test)."""
    from pyspark.sql import functions as F

    keys = model.om_keys(spark, sf_dir).filter(F.col("container_id") % 5 != 2)
    return scm.delete_actions(
        model.rm_container_details(spark, sf_dir),
        model.rm_replica_details_bucketed(spark, sf_dir),
        keys,
    )


RM4_SQL = model.with_ctes(
    model.OM_KEYS_CTE,
    model.RM_REPLICAS_CTE,
    model.RM_CONTAINER_DETAILS_CTE,
    model.RM_REPLICA_DETAILS_CTE,
    """drep AS (
  SELECT r.container_id, r.datanode_id, r.replica_state, c.state AS c_state
  FROM rm_replica_details r
  JOIN rm_container_details c USING (container_id)
)""",
    """rep_stats AS (
  SELECT container_id, count(*) AS replica_count,
         CAST(SUM(CASE WHEN replica_state = 'CLOSED' THEN 0 ELSE 1 END)
              AS BIGINT) AS non_closed
  FROM drep GROUP BY container_id
)""",
    """live AS (
  SELECT DISTINCT container_id FROM om_keys WHERE container_id % 5 <> 2
)""",
    body="""SELECT * FROM (
  SELECT c.container_id, 'CLEANUP' AS action,
         CAST(NULL AS BIGINT) AS datanode_id,
         'no replicas left: container DELETED' AS detail
  FROM rm_container_details c
  LEFT JOIN rep_stats s USING (container_id)
  WHERE c.state = 'DELETING' AND COALESCE(s.replica_count, 0) = 0
  UNION ALL
  SELECT container_id, 'DELETE_REPLICA', datanode_id,
         'deleting container: resend replica delete'
  FROM drep WHERE c_state = 'DELETING'
  UNION ALL
  SELECT d.container_id, 'DELETE_EMPTY', d.datanode_id,
         'empty closed container: delete replica'
  FROM drep d
  JOIN rep_stats s USING (container_id)
  WHERE d.c_state = 'CLOSED' AND s.replica_count > 0 AND s.non_closed = 0
    AND d.container_id NOT IN (SELECT container_id FROM live)
  UNION ALL
  SELECT c.container_id, 'CLEANUP', CAST(NULL AS BIGINT),
         'empty closed container: DELETE event'
  FROM rm_container_details c
  JOIN rep_stats s USING (container_id)
  WHERE c.state = 'CLOSED' AND s.replica_count > 0 AND s.non_closed = 0
    AND c.container_id NOT IN (SELECT container_id FROM live)
)
ORDER BY container_id, action, COALESCE(datanode_id, -1)""",
)

QUERIES["p3_pipeline_scrub"] = p3_pipeline_scrub
QUERIES["rm4_delete_actions"] = rm4_delete_actions
ORACLES["p3_pipeline_scrub"] = P3_SQL
ORACLES["rm4_delete_actions"] = RM4_SQL


# --- PP1: pipeline placement proposer (round 6) ----------------------------

def pp1_pipeline_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The member set the SCM would choose for the next RATIS-3
    pipeline — PipelinePlacementPolicy.chooseDatanodes determinized
    (operators/scm.py pipeline_targets): viable = HEALTHY+IN_SERVICE,
    free space ≥ 1 GB, engagement < the ozone.scm.datanode.pipeline
    .limit default 2; anchor → rack-spread second → same-rack third."""
    return scm.pipeline_targets(
        model.datanodes(spark, sf_dir),
        model.pipeline_members(spark, sf_dir),
        model.pipeline_details(spark, sf_dir),
        model.container_replicas(spark, sf_dir),
        model.containers(spark, sf_dir),
    )


PP1_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    model.PIPELINE_MEMBERS_CTE,
    model.PIPELINE_DETAILS_CTE,
    """pl_load AS (
  SELECT m.datanode_id, count(*) AS pipeline_count
  FROM pipeline_members m JOIN pipeline_details p USING (pipeline_id)
  WHERE p.replication_factor <> 1
    AND NOT (p.replication_factor = 3 AND p.state = 'CLOSED')
  GROUP BY m.datanode_id
)""",
    """pl_used AS (
  SELECT r.datanode_id, CAST(SUM(c.used_bytes) AS BIGINT) AS node_used
  FROM container_replicas r JOIN containers c USING (container_id)
  GROUP BY r.datanode_id
)""",
    """pl_viable AS (
  SELECT d.datanode_id, d.rack,
         d.capacity_bytes - COALESCE(u.node_used, 0) AS free_bytes,
         COALESCE(l.pipeline_count, 0) AS pipeline_count
  FROM datanodes d
  LEFT JOIN pl_used u USING (datanode_id)
  LEFT JOIN pl_load l USING (datanode_id)
  WHERE d.node_state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
    AND d.capacity_bytes - COALESCE(u.node_used, 0) >= 1000000000
    AND COALESCE(l.pipeline_count, 0) < 2
)""",
    """pl_ord AS (
  SELECT *, row_number() OVER (ORDER BY pipeline_count, datanode_id) AS ord
  FROM pl_viable
)""",
    """pl_anchor AS (SELECT * FROM pl_ord WHERE ord = 1)""",
    """pl_rest AS (
  SELECT o.*, (o.rack <> a.rack) AS diff
  FROM pl_ord o CROSS JOIN pl_anchor a WHERE o.ord > 1
)""",
    """pl_second AS (
  SELECT *, CASE WHEN diff THEN 'RACK_SPREAD' ELSE 'FALLBACK' END AS role
  FROM pl_rest ORDER BY diff DESC, ord LIMIT 1
)""",
    """pl_third AS (
  SELECT r.*,
         CASE WHEN s.diff AND NOT r.diff THEN 'SAME_RACK'
              ELSE 'FALLBACK' END AS role
  FROM pl_rest r CROSS JOIN pl_second s
  WHERE r.datanode_id <> s.datanode_id
  ORDER BY (s.diff AND NOT r.diff) DESC, r.ord LIMIT 1
)""",
    body="""SELECT * FROM (
  SELECT 1 AS member_no, datanode_id, rack, pipeline_count, free_bytes,
         'ANCHOR' AS role
  FROM pl_anchor
  UNION ALL
  SELECT 2, datanode_id, rack, pipeline_count, free_bytes, role
  FROM pl_second
  UNION ALL
  SELECT 3, datanode_id, rack, pipeline_count, free_bytes, role
  FROM pl_third
)
ORDER BY member_no""",
)

QUERIES["pp1_pipeline_targets"] = pp1_pipeline_targets
ORACLES["pp1_pipeline_targets"] = PP1_SQL


# --- BM1: balancer move planner (round 6, design-forward) ------------------

def bm1_balancer_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balancer (container, source, target) moves pairing B1's over/
    under-utilized sets under the RM2 placement law and per-node byte
    budgets (operators/scm.py balancer_moves — repo-defined determinized
    pick law; v1.2.0 has no in-tree move chooser to hash-match).
    Threshold 0.002 fits the synthetic cluster's utilization spread the
    way an admin would tune ozone's threshold to their fleet."""
    reps = model.container_replicas(spark, sf_dir)
    return scm.balancer_moves(
        model.datanodes(spark, sf_dir),
        reps,
        model.containers(spark, sf_dir),
        threshold=0.002,
    )


# the bm_pick pairing
_BM_PICK_SQL = """SELECT *, row_number() OVER (PARTITION BY container_id
      ORDER BY bytes_under_lower DESC, target_datanode_id) AS t1
  FROM (
    SELECT c.*, v.cov_before, cr.rack_cnt AS src_rack_cnt,
           t.target_datanode_id, t.target_rack, t.bytes_under_lower,
           COALESCE(cr2.rack_cnt > 0, FALSE) AS target_rack_covered,
           tr.total_racks,
           v.cov_before - (CASE WHEN cr.rack_cnt = 1
                                 AND t.target_rack <> c.source_rack
                                THEN 1 ELSE 0 END)
             + (CASE WHEN COALESCE(cr2.rack_cnt > 0, FALSE)
                     THEN 0 ELSE 1 END) AS cov_after
    FROM bm_cand c
    JOIN bm_cov v USING (container_id)
    JOIN bm_cont_racks cr
      ON cr.container_id = c.container_id AND cr.rack = c.source_rack
    CROSS JOIN bm_targets t
    LEFT JOIN bm_cont_racks cr2
      ON cr2.container_id = c.container_id AND cr2.rack = t.target_rack
    CROSS JOIN (SELECT count(DISTINCT rack) AS total_racks FROM datanodes) tr
    WHERE NOT EXISTS (
      SELECT 1 FROM container_replicas h
      WHERE h.container_id = c.container_id
        AND h.datanode_id = t.target_datanode_id)
  )
  WHERE cov_after >= LEAST(replication_factor, total_racks)
     OR cov_after >= cov_before"""

# the final per-target budget fold, shared with the decomposed replay
_BM_MOVES_BODY = """SELECT container_id, source_datanode_id, target_datanode_id,
       used_bytes, source_rack, target_rack
FROM (
  SELECT *, SUM(used_bytes) OVER (
      PARTITION BY target_datanode_id
      ORDER BY used_bytes DESC, container_id ROWS UNBOUNDED PRECEDING
    ) AS tgt_cum
  FROM bm_pick WHERE t1 = 1
)
WHERE tgt_cum <= bytes_under_lower
ORDER BY container_id"""

# named so the decomposed replay can stage the linear frames and the
# per-container source pick independently
_BM_STACK = (
    """bm_nodes AS (
  SELECT d.datanode_id, d.rack, d.capacity_bytes,
         COALESCE(u.used_bytes, 0) AS used_bytes
  FROM datanodes d
  LEFT JOIN (
    SELECT r.datanode_id, CAST(SUM(c.used_bytes) AS BIGINT) AS used_bytes
    FROM container_replicas r JOIN containers c USING (container_id)
    GROUP BY r.datanode_id
  ) u USING (datanode_id)
  WHERE d.node_state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
)""",
    """bm_class AS (
  SELECT n.datanode_id, n.rack, n.capacity_bytes,
         CAST(n.used_bytes AS DOUBLE) / n.capacity_bytes AS util,
         CAST(t.cluster_used AS DOUBLE) / t.cluster_capacity AS avgu
  FROM bm_nodes n CROSS JOIN (
    SELECT SUM(used_bytes) AS cluster_used,
           SUM(capacity_bytes) AS cluster_capacity
    FROM bm_nodes
  ) t
)""",
    """bm_sources AS (
  SELECT datanode_id AS source_datanode_id, rack AS source_rack,
         capacity_bytes * util - capacity_bytes * (avgu + 0.002)
           AS bytes_over_upper
  FROM bm_class WHERE util > avgu + 0.002
)""",
    """bm_targets AS (
  SELECT datanode_id AS target_datanode_id, rack AS target_rack,
         capacity_bytes * (avgu - 0.002) - capacity_bytes * util
           AS bytes_under_lower
  FROM bm_class WHERE util < avgu - 0.002
)""",
    """bm_cont_racks AS (
  SELECT r.container_id, d.rack, count(*) AS rack_cnt
  FROM container_replicas r JOIN datanodes d USING (datanode_id)
  GROUP BY 1, 2
)""",
    """bm_cov AS (
  SELECT container_id, count(*) AS cov_before FROM bm_cont_racks GROUP BY 1
)""",
    """bm_cand AS (
  SELECT * FROM (
    SELECT *, SUM(used_bytes) OVER (
        PARTITION BY source_datanode_id
        ORDER BY used_bytes DESC, container_id ROWS UNBOUNDED PRECEDING
      ) AS src_cum
    FROM (
      SELECT r.container_id, s.source_datanode_id, s.source_rack,
             s.bytes_over_upper, m.replication_factor, m.used_bytes,
             row_number() OVER (PARTITION BY r.container_id
               ORDER BY s.bytes_over_upper DESC, s.source_datanode_id) AS c1
      FROM container_replicas r
      JOIN bm_sources s ON r.datanode_id = s.source_datanode_id
      JOIN (SELECT container_id, replication_factor, used_bytes
            FROM containers
            WHERE state = 'CLOSED' AND used_bytes > 0) m
        USING (container_id)
    ) WHERE c1 = 1
  ) WHERE src_cum <= bytes_over_upper
)""",
    f"""bm_pick AS (
  {_BM_PICK_SQL}
)""",
)

BM1_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    *_BM_STACK,
    body=_BM_MOVES_BODY,
)

QUERIES["bm1_balancer_moves"] = bm1_balancer_moves
ORACLES["bm1_balancer_moves"] = BM1_SQL


# --- N3: printTopology (round 6) -------------------------------------------

def n3_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ozone admin printTopology --order` — nodes per health-state
    section grouped by sorted network location with operational state
    (TopologySubcommand.java:72-86 state loop, :95-121
    printOrderedByLocation: locations sorted, nodes tree-ordered within
    a rack). Map-only projection with the reference's section order
    (HEALTHY, STALE, DEAD) as an explicit sort key."""
    d = model.datanodes(spark, sf_dir)
    state_rank = (
        F.when(F.col("node_state") == "HEALTHY", 0)
        .when(F.col("node_state") == "STALE", 1)
        .otherwise(2)
    )
    return (
        d.select(
            "node_state",
            F.col("rack").alias("location"),
            "datanode_id",
            "hostname",
            "op_state",
            state_rank.alias("state_rank"),
        )
        .orderBy("state_rank", "location", "hostname", "datanode_id")
    )


N3_SQL = model.with_ctes(
    model.DATANODES_CTE,
    body="""SELECT node_state, rack AS location, datanode_id, hostname,
       op_state,
       CASE node_state WHEN 'HEALTHY' THEN 0 WHEN 'STALE' THEN 1
            ELSE 2 END AS state_rank
FROM datanodes
ORDER BY state_rank, location, hostname, datanode_id""",
)

QUERIES["n3_topology"] = n3_topology
ORACLES["n3_topology"] = N3_SQL


# --- C2: `ozone admin container info` (round 6) ----------------------------

def c2_container_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ozone admin container info <id>` — getContainerWithPipeline
    (InfoSubcommand.java:64-90; SCMClientProtocolServer
    getContainerWithPipeline): the container record joined to its
    pipeline and the pipeline's sorted member list. Self-contained
    probe on the LOWEST open container (scalar-subquery ≡ 1-row
    broadcast, the s2 pattern); members collapse to a sorted
    concat_ws string so the surface stays hash-comparable."""
    c = model.containers(spark, sf_dir)
    p = model.pipelines(spark, sf_dir)
    m = model.pipeline_members(spark, sf_dir)
    probe = c.filter(F.col("state") == "OPEN").agg(
        F.min("container_id").alias("container_id")
    )
    members = m.groupBy("pipeline_id").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("datanode_id").cast("string")))
        ).alias("pipeline_members"),
        F.count(F.lit(1)).alias("member_count"),
    )
    pd = p.select(
        "pipeline_id", F.col("state").alias("pipeline_state")
    )
    return (
        c.withColumnRenamed("state", "container_state")
        .join(F.broadcast(probe), "container_id")
        .join(F.broadcast(pd), "pipeline_id", "left")
        .join(F.broadcast(members), "pipeline_id", "left")
        .select(
            "container_id",
            "container_state",
            "replication_factor",
            "pipeline_id",
            "pipeline_state",
            F.col("member_count").cast("long").alias("member_count"),
            "pipeline_members",
        )
    )


C2_SQL = model.with_ctes(
    model.CONTAINERS_CTE,
    model.PIPELINES_CTE,
    model.PIPELINE_MEMBERS_CTE,
    """c2_members AS (
  SELECT pipeline_id,
         array_to_string(list_sort(list(CAST(datanode_id AS VARCHAR))), ',')
           AS pipeline_members,
         count(*) AS member_count
  FROM pipeline_members GROUP BY pipeline_id
)""",
    body="""SELECT c.container_id, c.state AS container_state,
       c.replication_factor, c.pipeline_id,
       p.state AS pipeline_state, m.member_count, m.pipeline_members
FROM containers c
LEFT JOIN pipelines p USING (pipeline_id)
LEFT JOIN c2_members m USING (pipeline_id)
WHERE c.container_id = (SELECT min(container_id) FROM containers
                        WHERE state = 'OPEN')""",
)

QUERIES["c2_container_info"] = c2_container_info
ORACLES["c2_container_info"] = C2_SQL


def _unhealthy_page(
    spark: SparkSession, sf_dir: str, state: str | None, batch_num: int, limit: int = 50
) -> DataFrame:
    """Recon unhealthy-containers page body shared by
    /containers/unhealthy/{state} (state set) and /containers/unhealthy
    (state None → every non-HEALTHY classification,
    ContainerEndpoint.java:347-355 delegating with state=null):
    offset = (batchNum−1)·limit over the id-ordered classified set —
    each row an UnhealthyContainerMetadata: state, expected/actual/
    delta replica counts, the container's key count (the endpoint
    reads containerInfo.getNumberOfKeys; here the J4 rollup) and its
    pipeline id. The page is ``limit`` rows, so the key and pipeline
    joins ride a broadcast of the page."""
    from hadoop_ozone_spark.operators import recon

    classified = recon.container_health(
        model.containers_bucketed(spark, sf_dir),
        model.container_replicas_bucketed(spark, sf_dir),
        model.datanodes(spark, sf_dir),
    )
    health_pred = (
        (F.col("health") == state)
        if state is not None
        else (F.col("health") != "HEALTHY")
    )
    page = (
        classified.filter(health_pred)
        .orderBy("container_id")
        .offset((batch_num - 1) * limit)
        .limit(limit)
        .select(
            "container_id",
            F.col("health").alias("container_state"),
            F.col("replication_factor").cast("bigint").alias(
                "expected_replica_count"
            ),
            F.col("replica_count").cast("bigint").alias("actual_replica_count"),
            F.col("replica_delta").cast("bigint").alias("replica_delta_count"),
        )
    )
    key_counts = recon.container_key_index(
        model.om_keys_by_container(spark, sf_dir)
    ).select("container_id", "num_keys")
    pipe = model.containers(spark, sf_dir).select("container_id", "pipeline_id")
    return (
        page.join(key_counts, "container_id", "left")
        .join(F.broadcast(pipe), "container_id")
        .select(
            "container_id",
            "container_state",
            "expected_replica_count",
            "actual_replica_count",
            "replica_delta_count",
            F.coalesce(F.col("num_keys"), F.lit(0)).alias("keys"),
            "pipeline_id",
        )
        .orderBy("container_id")
    )


def c3_unhealthy_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recon /containers/unhealthy/{state}: batch 2 of 50
    UNDER_REPLICATED containers (ContainerEndpoint.java:284-333)."""
    return _unhealthy_page(spark, sf_dir, "UNDER_REPLICATED", batch_num=2)


def c4_unhealthy_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recon /containers/unhealthy (no state): batch 1 of 50 across
    ALL non-HEALTHY classifications (ContainerEndpoint.java:347-355 —
    the state=null delegation)."""
    return _unhealthy_page(spark, sf_dir, None, batch_num=1)


def _unhealthy_sql(where: str, limit: int, offset: int) -> str:
    return model.with_ctes(
        model.OM_KEYS_CTE,
        model.CONTAINERS_CTE,
        model.CONTAINER_REPLICAS_CTE,
        model.DATANODES_CTE,
        """c3_page AS (
  SELECT container_id,
         health AS container_state,
         CAST(replication_factor AS BIGINT) AS expected_replica_count,
         CAST(replica_count AS BIGINT) AS actual_replica_count,
         CAST(replica_delta AS BIGINT) AS replica_delta_count
  FROM (""" + model.J2_CLASSIFIED_SQL + f""")
  WHERE {where}
  ORDER BY container_id LIMIT {limit} OFFSET {offset}
)""",
        body="""SELECT p.container_id, p.container_state,
       p.expected_replica_count, p.actual_replica_count,
       p.replica_delta_count,
       CAST(COALESCE(k.num_keys, 0) AS BIGINT) AS keys,
       c.pipeline_id
FROM c3_page p
LEFT JOIN (SELECT container_id, count(*) AS num_keys FROM om_keys
           GROUP BY container_id) k ON p.container_id = k.container_id
JOIN containers c ON p.container_id = c.container_id
ORDER BY p.container_id""",
    )


C3_SQL = _unhealthy_sql("health = 'UNDER_REPLICATED'", limit=50, offset=50)
C4_SQL = _unhealthy_sql("health <> 'HEALTHY'", limit=50, offset=0)

QUERIES["c3_unhealthy_page"] = c3_unhealthy_page
ORACLES["c3_unhealthy_page"] = C3_SQL
QUERIES["c4_unhealthy_all"] = c4_unhealthy_all
ORACLES["c4_unhealthy_all"] = C4_SQL


# --- N4: `ozone admin datanode list` (round 6) -----------------------------

def n4_datanode_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ozone admin datanode list --node-state HEALTHY` —
    ListInfoSubcommand.java:40-90: the filtered node listing with each
    node's related pipelines (the CLI prints per-node pipeline lines
    from listPipelines filtered to membership). Sorted pipeline-id
    string keeps the surface hash-comparable."""
    d = model.datanodes(spark, sf_dir).filter(F.col("node_state") == "HEALTHY")
    m = model.pipeline_members(spark, sf_dir)
    per_node = m.groupBy("datanode_id").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("pipeline_id").cast("string")))
        ).alias("pipelines"),
        F.count(F.lit(1)).alias("pipeline_count"),
    )
    return (
        d.join(F.broadcast(per_node), "datanode_id", "left")
        .select(
            "datanode_id",
            "hostname",
            "rack",
            "op_state",
            F.coalesce(F.col("pipeline_count"), F.lit(0)).cast("long").alias(
                "pipeline_count"
            ),
            F.coalesce(F.col("pipelines"), F.lit("")).alias("pipelines"),
        )
        .orderBy("datanode_id")
    )


N4_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.PIPELINE_MEMBERS_CTE,
    """n4_per_node AS (
  SELECT datanode_id,
         array_to_string(list_sort(list(CAST(pipeline_id AS VARCHAR))), ',')
           AS pipelines,
         count(*) AS pipeline_count
  FROM pipeline_members GROUP BY datanode_id
)""",
    body="""SELECT d.datanode_id, d.hostname, d.rack, d.op_state,
       COALESCE(p.pipeline_count, 0) AS pipeline_count,
       COALESCE(p.pipelines, '') AS pipelines
FROM datanodes d
LEFT JOIN n4_per_node p USING (datanode_id)
WHERE d.node_state = 'HEALTHY'
ORDER BY d.datanode_id""",
)

QUERIES["n4_datanode_list"] = n4_datanode_list
ORACLES["n4_datanode_list"] = N4_SQL


# --- B2: balancer iteration summary (round 6) ------------------------------

def b2_balancer_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ozone admin containerbalancer status`-shaped iteration summary —
    the totals initializeIteration logs (ContainerBalancer.java:199-233:
    countDatanodesToBalance, overLoadedBytes, underLoadedBytes, cluster
    average): one 1-row rollup over B1's classification frame at the
    bm1 threshold."""
    util = scm.balancer_utilization(
        model.datanodes(spark, sf_dir),
        model.container_replicas(spark, sf_dir),
        model.containers(spark, sf_dir),
        threshold=0.002,
    )
    is_over = F.col("classification") == "OVER_UTILIZED"
    is_under = F.col("classification") == "UNDER_UTILIZED"

    # double sums fold in datanode_id order (the kmeans/dot discipline —
    # a plain SUM adds in partition order and can flip a 6dp boundary)
    def ordered_sum(col_name):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("datanode_id", col_name))),
            F.lit(0.0),
            lambda acc, s: acc + s[col_name],
        )

    return util.agg(
        F.count(F.lit(1)).alias("nodes_in_scope"),
        F.sum(F.when(is_over, 1).otherwise(0)).alias("over_utilized"),
        F.sum(F.when(is_under, 1).otherwise(0)).alias("under_utilized"),
        F.sum(F.when(is_over | is_under, 1).otherwise(0)).alias(
            "datanodes_to_balance"
        ),
        F.round(ordered_sum("bytes_over_upper"), 6).alias("over_loaded_bytes"),
        F.round(ordered_sum("bytes_under_lower"), 6).alias(
            "under_loaded_bytes"
        ),
        F.round(F.max("cluster_avg_utilization"), 6).alias(
            "cluster_avg_utilization"
        ),
    )


B2_SQL = model.with_ctes(
    model.DATANODES_CTE,
    model.CONTAINERS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    """b2_nodes AS (
  SELECT d.datanode_id, d.capacity_bytes,
         COALESCE(u.used_bytes, 0) AS used_bytes
  FROM datanodes d
  LEFT JOIN (
    SELECT r.datanode_id, CAST(SUM(c.used_bytes) AS BIGINT) AS used_bytes
    FROM container_replicas r JOIN containers c USING (container_id)
    GROUP BY r.datanode_id
  ) u USING (datanode_id)
  WHERE d.node_state = 'HEALTHY' AND d.op_state = 'IN_SERVICE'
)""",
    """b2_class AS (
  SELECT datanode_id, capacity_bytes,
         CAST(used_bytes AS DOUBLE) / capacity_bytes AS util,
         CAST(t.cluster_used AS DOUBLE) / t.cluster_capacity AS avgu
  FROM b2_nodes CROSS JOIN (
    SELECT SUM(used_bytes) AS cluster_used,
           SUM(capacity_bytes) AS cluster_capacity
    FROM b2_nodes
  ) t
)""",
    body="""SELECT count(*) AS nodes_in_scope,
  CAST(SUM(CASE WHEN util > avgu + 0.002 THEN 1 ELSE 0 END) AS BIGINT)
    AS over_utilized,
  CAST(SUM(CASE WHEN util < avgu - 0.002 THEN 1 ELSE 0 END) AS BIGINT)
    AS under_utilized,
  CAST(SUM(CASE WHEN util > avgu + 0.002 OR util < avgu - 0.002
            THEN 1 ELSE 0 END) AS BIGINT) AS datanodes_to_balance,
  round(list_reduce(list(CASE WHEN util > avgu + 0.002
            THEN capacity_bytes * util - capacity_bytes * (avgu + 0.002)
            ELSE 0.0 END ORDER BY datanode_id), (x, y) -> x + y), 6)
    AS over_loaded_bytes,
  round(list_reduce(list(CASE WHEN util < avgu - 0.002
            THEN capacity_bytes * (avgu - 0.002) - capacity_bytes * util
            ELSE 0.0 END ORDER BY datanode_id), (x, y) -> x + y), 6)
    AS under_loaded_bytes,
  round(MAX(avgu), 6) AS cluster_avg_utilization
FROM b2_class""",
)

QUERIES["b2_balancer_summary"] = b2_balancer_summary
ORACLES["b2_balancer_summary"] = B2_SQL


# --- DN1: datanode block-deleting service plan (round 7) -------------------

DN1_BLOCK_LIMIT = 100


def dn1_block_deletion_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-datanode BlockDeletingService interval plan (operators/scm.py
    dn_block_deletion_plan): candidates = CLOSED containers (the
    isDeletionAllowed gate) holding pending deletion blocks (D2's
    deleted-block txn plane, retry_count >= 0 — failed txns at -1 are
    the D2 report's concern, not the datanode's work queue) on each of
    their replica datanodes; TopN by pending under a 100-block interval
    budget, the last pick clamped to the remainder."""
    txns = model.deleted_block_txns(spark, sf_dir)
    pending = (
        txns.filter(F.col("retry_count") >= 0)
        .groupBy("container_id")
        .agg(F.sum("block_count").alias("pending"))
    )
    closed = model.rm_container_details(spark, sf_dir).filter(
        F.col("state") == "CLOSED"
    ).select("container_id")
    cands = (
        model.container_replicas(spark, sf_dir)
        .join(F.broadcast(closed), "container_id")
        .join(pending, "container_id")
        .select("datanode_id", "container_id", "pending")
    )
    return scm.dn_block_deletion_plan(cands, DN1_BLOCK_LIMIT)


DN1_SQL = model.with_ctes(
    model.DELETED_BLOCK_TXNS_CTE,
    model.CONTAINER_REPLICAS_CTE,
    model.RM_CONTAINER_DETAILS_CTE,
    """dn1_pending AS (
  SELECT container_id, CAST(SUM(block_count) AS BIGINT) AS pending
  FROM deleted_block_txns WHERE retry_count >= 0 GROUP BY container_id
)""",
    """dn1_cands AS (
  SELECT r.datanode_id, r.container_id, p.pending
  FROM container_replicas r
  JOIN rm_container_details d
    ON d.container_id = r.container_id AND d.state = 'CLOSED'
  JOIN dn1_pending p ON p.container_id = r.container_id
)""",
    """dn1_plan AS (
  SELECT datanode_id, container_id, pending,
         CAST(least(pending,
               100 - COALESCE(SUM(pending) OVER (
                 PARTITION BY datanode_id
                 ORDER BY pending DESC, container_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
           AS BIGINT) AS num_blocks_to_delete
  FROM dn1_cands
)""",
    body="""SELECT datanode_id, container_id, pending, num_blocks_to_delete
FROM dn1_plan WHERE num_blocks_to_delete > 0
ORDER BY datanode_id, pending DESC, container_id""",
)

QUERIES["dn1_block_deletion_plan"] = dn1_block_deletion_plan
ORACLES["dn1_block_deletion_plan"] = DN1_SQL


# --- DN2: container scanner pass (round 7) --------------------------------
#
# The datanode's two scrubber threads re-expressed as one rollup over
# the replica plane:
#  - metadata scanner: EVERY onDisk container is fast-checked each
#    iteration regardless of state (ContainerMetadataScanner.java:
#    99-116 runIteration, :118-128 scrub — a failed scanMetaData marks
#    the container unhealthy);
#  - data scanner: only CLOSED / QUASI_CLOSED containers are eligible
#    (KeyValueContainer.shouldScanData, KeyValueContainer.java:742-746);
#    a failed fullCheck marks unhealthy, success refreshes the
#    dataScanTimestamp (ContainerDataScanner.java:95-121 runIteration).
# A replica's local state is what the datanode consults, so
# rm_replica_details supplies the state vocabulary. Corruption is a
# deterministic synthesis (the reference's is a real checksum walk):
# fastCheck fails iff (cid*31 + dn) % 101 == 0, fullCheck fails iff
# (cid*17 + dn) % 53 == 0 — both engines replay the same arithmetic.

def dn2_scanner_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    reps = model.rm_replica_details(spark, sf_dir)
    cid, dn = F.col("container_id"), F.col("datanode_id")
    meta_bad = (cid * 31 + dn) % 101 == 0
    data_eligible = F.col("replica_state").isin("CLOSED", "QUASI_CLOSED")
    data_bad = (cid * 17 + dn) % 53 == 0
    return (
        reps.select(
            dn.alias("datanode_id"),
            meta_bad.alias("meta_bad"),
            data_eligible.alias("data_eligible"),
            (data_eligible & data_bad).alias("data_unhealthy"),
            (data_eligible & ~data_bad).alias("ts_updated"),
        )
        .groupBy("datanode_id")
        .agg(
            F.count(F.lit(1)).alias("n_meta_scanned"),
            F.sum(F.when(F.col("meta_bad"), 1).otherwise(0))
            .cast("long")
            .alias("n_meta_unhealthy"),
            F.sum(F.when(F.col("data_eligible"), 1).otherwise(0))
            .cast("long")
            .alias("n_data_scanned"),
            F.sum(F.when(F.col("data_unhealthy"), 1).otherwise(0))
            .cast("long")
            .alias("n_data_unhealthy"),
            F.sum(F.when(F.col("ts_updated"), 1).otherwise(0))
            .cast("long")
            .alias("n_ts_updated"),
        )
        .orderBy("datanode_id")
    )


DN2_SQL = model.with_ctes(
    model.RM_REPLICAS_CTE,
    model.RM_REPLICA_DETAILS_CTE,
    body="""SELECT datanode_id,
  count(*) AS n_meta_scanned,
  CAST(SUM(CASE WHEN (container_id * 31 + datanode_id) % 101 = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_meta_unhealthy,
  CAST(SUM(CASE WHEN replica_state IN ('CLOSED', 'QUASI_CLOSED')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_data_scanned,
  CAST(SUM(CASE WHEN replica_state IN ('CLOSED', 'QUASI_CLOSED')
             AND (container_id * 17 + datanode_id) % 53 = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_data_unhealthy,
  CAST(SUM(CASE WHEN replica_state IN ('CLOSED', 'QUASI_CLOSED')
             AND (container_id * 17 + datanode_id) % 53 <> 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_updated
FROM rm_replica_details
GROUP BY datanode_id ORDER BY datanode_id""",
)

QUERIES["dn2_scanner_rollup"] = dn2_scanner_rollup
ORACLES["dn2_scanner_rollup"] = DN2_SQL
