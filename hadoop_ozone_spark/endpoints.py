"""Thin endpoint layer — the reference's query signatures, one function
per RPC/REST entry point (SURVEY §7 architecture: "a thin 'endpoint'
layer reproducing the reference's query signatures").

Each endpoint is a named composition of operators over the namespace
tables; nothing here adds logic — it fixes the public API a reference
user would migrate to. Signatures mirror the reference calls cited in
each docstring.

Serving: Ozone answers each of these as one RPC, and the facade keeps a
request close to one Spark job. A batch frame whose size estimate is at
most the smallest scan split (``deployment.min_split_bytes``: Spark
never cuts so small a plane for its size) is served from ONE partition
(``coalesce(1)``): a single partition already satisfies the
distribution a groupBy, distinct, window or orderBy needs, so the plan
has no shuffle Exchange and no range-sampling job, while filters still
push below the coalesce (partition pruning and parquet pushdown stay).
Larger frames, frames Spark cannot size and streaming frames keep their
partitioning and plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_ozone_spark.operators import cdc, listing, recon, s3, scm, security
from hadoop_ozone_spark.sources.deployment import min_split_bytes


def _serving_frame(df: DataFrame | None) -> DataFrame | None:
    """``df`` in one partition when Catalyst sizes it at no more than the
    smallest scan split, else ``df`` unchanged (unknown sizes read as the
    huge ``spark.sql.defaultSizeInBytes``; streaming frames are left
    alone). Larger frames keep the scan parallelism Spark plans for them,
    since ``coalesce(1)`` would collapse the scan too."""
    if df is None or df.isStreaming:
        return df
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return df.coalesce(1) if size <= min_split_bytes(df.sparkSession) else df


class OzoneAnalytics:
    """Facade over a namespace snapshot + CDC feed, the engine's public
    API. ``keys`` is the keyTable DataFrame (from ``model.om_keys`` in
    tests or ``sources.snapshot.read_snapshot`` in deployment). Every
    frame given is held as ``_serving_frame`` sizes it."""

    def __init__(
        self,
        spark: SparkSession,
        keys: DataFrame,
        containers: DataFrame | None = None,
        replicas: DataFrame | None = None,
        events: DataFrame | None = None,
        datanodes: DataFrame | None = None,
        pipelines: DataFrame | None = None,
        pipeline_members: DataFrame | None = None,
        replica_observations: DataFrame | None = None,
        deleted_block_txns: DataFrame | None = None,
        audit: DataFrame | None = None,
    ):
        self.spark = spark
        self.keys = _serving_frame(keys)
        self.containers = _serving_frame(containers)
        self.replicas = _serving_frame(replicas)
        self.events = _serving_frame(events)
        self.datanodes = _serving_frame(datanodes)
        self.pipelines = _serving_frame(pipelines)
        self.pipeline_members = _serving_frame(pipeline_members)
        self.replica_observations = _serving_frame(replica_observations)
        self.deleted_block_txns = _serving_frame(deleted_block_txns)
        self.audit = _serving_frame(audit)

    # --- OM read RPCs -----------------------------------------------------

    def list_keys(self, volume: str, bucket: str, prefix: str | None = None,
                  start_key: str | None = None, max_keys: int = 1000) -> DataFrame:
        """OzoneManagerRequestHandler case ListKeys →
        OmMetadataManagerImpl.listKeys(:843-966)."""
        return listing.list_keys(self.keys, volume=volume, bucket=bucket,
                                 prefix=prefix, start_key=start_key, max_keys=max_keys)

    def lookup_key(self, row_key: str) -> DataFrame:
        """KeyManagerImpl.lookupKey(:641-700)."""
        return listing.point_lookup(self.keys, row_key)

    def list_status(self, volume: str, bucket: str, dir_path: str,
                    recursive: bool = False) -> DataFrame:
        """KeyManagerImpl.listStatus(:2357-2411): fake-dir synthesis."""
        scoped = self.keys.filter(
            (F.col("volume") == volume) & (F.col("bucket") == bucket)
        ).select("key", "data_size")
        return listing.list_status(scoped, dir_path, recursive=recursive)

    # --- S3 gateway -------------------------------------------------------

    def list_objects_v2(self, volume: str, bucket: str, prefix: str = "",
                        delimiter: str = "/", continuation_token: str | None = None,
                        max_keys: int = 1000) -> DataFrame:
        """BucketEndpoint.get(:90-228): Contents + CommonPrefixes."""
        scoped = self.keys.filter(
            (F.col("volume") == volume) & (F.col("bucket") == bucket)
        )
        return s3.list_objects_v2(scoped, prefix=prefix, delimiter=delimiter,
                                  start_after=continuation_token, max_keys=max_keys)

    # --- Recon REST -------------------------------------------------------

    def utilization_file_count(self, volume: str | None = None,
                               bucket: str | None = None,
                               file_size: int | None = None) -> DataFrame:
        """/utilization/fileCount (UtilizationEndpoint.java:65-101)."""
        out = recon.file_size_histogram(self.keys)
        if volume is not None:
            out = out.filter(F.col("volume") == volume)
        if bucket is not None:
            out = out.filter(F.col("bucket") == bucket)
        if file_size is not None:
            out = out.filter(F.col("file_size") == file_size)
        return out

    def namespace_summary(self, volume: str, bucket: str) -> DataFrame:
        """/namespace/summary du rollup (NSSummaryEndpoint)."""
        scoped = self.keys.filter(
            (F.col("volume") == volume) & (F.col("bucket") == bucket)
        )
        return recon.namespace_du(scoped)

    def containers_keys(self, container_id: int, max_keys: int = 1000) -> DataFrame:
        """/containers/{id}/keys (ContainerEndpoint.java:141-216)."""
        assert self.containers is not None
        return recon.keys_for_container(self.keys, self.containers, container_id, max_keys)

    def unhealthy_containers(self, state: str | None = None) -> DataFrame:
        """/containers/unhealthy[/{state}] (ContainerEndpoint.java —
        state ∈ MISSING/UNDER_REPLICATED/OVER_REPLICATED/MIS_REPLICATED)."""
        assert self.containers is not None and self.replicas is not None
        out = recon.container_health(
            self.containers, self.replicas, self.datanodes
        ).filter(F.col("health") != "HEALTHY")
        if state is not None:
            out = out.filter(F.col("health") == state)
        return out

    def cluster_state(self) -> DataFrame:
        """/clusterState (ClusterStateEndpoint.java:79-115)."""
        assert self.containers is not None and self.replicas is not None
        return recon.cluster_state(
            self.containers, self.replicas, self.datanodes, self.pipelines
        )

    def container_replica_history(self, container_id: int) -> DataFrame:
        """/containers/{id}/replicaHistory (ContainerEndpoint.java:225-238)."""
        assert self.replica_observations is not None
        return recon.replica_history(
            self.replica_observations.filter(F.col("container_id") == container_id),
            self.datanodes,
        )

    def latest_container_history(self, container_id: int, limit: int) -> DataFrame:
        """Most-recently-seen replica locations, capped at the
        replication factor (ReconContainerManager.java:399-405; feeds
        /containers/missing)."""
        assert self.replica_observations is not None
        return recon.latest_replica_history(
            self.replica_observations, container_id, limit, self.datanodes
        )

    def missing_containers(self) -> DataFrame:
        """/containers/missing (ContainerEndpoint.java:239-270):
        MissingContainerMetadata rows — key count, pipeline, last-known
        replica locations from the history CF."""
        assert self.containers is not None and self.replicas is not None
        assert self.replica_observations is not None
        return recon.missing_containers(
            self.containers, self.replicas, self.keys,
            self.replica_observations, self.datanodes,
        )

    def list_datanodes(self) -> DataFrame:
        """/datanodes (NodeEndpoint.java:83-160)."""
        assert self.datanodes is not None and self.replicas is not None
        assert self.containers is not None and self.pipelines is not None
        assert self.pipeline_members is not None
        return recon.datanode_listing(
            self.datanodes, self.replicas, self.containers,
            self.pipelines, self.pipeline_members,
        )

    def list_pipelines(self) -> DataFrame:
        """/pipelines (PipelineEndpoint.java:73-135)."""
        assert self.pipelines is not None and self.datanodes is not None
        assert self.pipeline_members is not None and self.containers is not None
        return recon.pipeline_listing(
            self.pipelines, self.pipeline_members, self.datanodes, self.containers
        )

    # --- SCM admin services ----------------------------------------------

    def balancer_utilization(self, threshold: float = 0.1) -> DataFrame:
        """Container balancer node classification
        (ContainerBalancer.java:169-233; surfaced by the
        ContainerBalancerStatusSubcommand CLI)."""
        assert self.datanodes is not None and self.replicas is not None
        assert self.containers is not None
        return scm.balancer_utilization(
            self.datanodes, self.replicas, self.containers, threshold=threshold
        )

    def decommission_status(self, min_healthy_for_maintenance: int = 2) -> DataFrame:
        """Per-node admin-workflow readiness
        (DatanodeAdminMonitorImpl.java:273-300)."""
        assert self.datanodes is not None and self.replicas is not None
        assert self.containers is not None
        return scm.decommission_status(
            self.containers, self.replicas, self.datanodes,
            min_healthy_for_maintenance=min_healthy_for_maintenance,
        )

    def pending_block_deletions(self) -> DataFrame:
        """Per-datanode deleted-block backlog
        (DeletedBlockLogImpl.getTransactions, :405-445)."""
        assert self.deleted_block_txns is not None
        assert self.replicas is not None and self.containers is not None
        return scm.pending_deletion_by_datanode(
            self.deleted_block_txns, self.replicas, self.containers
        )

    def failed_block_deletions(self, limit: int = 100) -> DataFrame:
        """Retry-exhausted deletion txns
        (DeletedBlockLogImpl.getFailedTransactions, :148-163)."""
        assert self.deleted_block_txns is not None and self.containers is not None
        return scm.failed_deletion_txns(
            self.deleted_block_txns, self.containers, limit=limit
        )

    def list_containers(self, prev_key: int = 0, limit: int = 100) -> DataFrame:
        """/containers page (ContainerEndpoint.java:101-129)."""
        return recon.container_listing(self.keys, prev_key=prev_key, limit=limit)

    def pipeline_rack_spread(self) -> DataFrame:
        """Pipeline rack-placement validation (PipelinePlacementPolicy
        rack scatter, ContainerPlacementStatusDefault law)."""
        assert self.pipelines is not None and self.pipeline_members is not None
        assert self.datanodes is not None
        return recon.pipeline_rack_spread(
            self.pipelines, self.pipeline_members, self.datanodes
        )

    def access_heatmap(self) -> DataFrame:
        """Hierarchical namespace access counts from the audit log
        (operators/audit.access_heatmap ROLLUP)."""
        assert self.audit is not None
        from hadoop_ozone_spark.operators import audit as audit_ops

        return audit_ops.access_heatmap(self.audit)

    def safe_mode_status(self) -> DataFrame:
        """Safe-mode exit-rule statuses (SCMSafeModeManager rules)."""
        assert self.containers is not None and self.replicas is not None
        assert self.datanodes is not None and self.pipelines is not None
        assert self.pipeline_members is not None
        return scm.safe_mode_status(
            self.containers, self.replicas, self.datanodes,
            self.pipelines, self.pipeline_members,
        )

    def replication_actions(self) -> DataFrame:
        """ReplicationManager action set — ADD/DELETE replica commands
        with rack-aware targets (ReplicationManager.java:692-860;
        `ozone admin container report` is the closest CLI surface)."""
        assert self.containers is not None and self.replicas is not None
        assert self.datanodes is not None
        return scm.replication_actions(
            self.containers, self.replicas, self.datanodes
        )

    def placement_targets(self, limit: int = 10) -> DataFrame:
        """Rack-aware placement chooser for the lowest under-replicated
        container (SCMContainerPlacementRackAware.chooseDatanodes)."""
        assert self.containers is not None and self.replicas is not None
        assert self.datanodes is not None
        return scm.placement_probe(
            self.containers, self.replicas, self.datanodes, limit=limit
        )

    def close_actions(
        self, container_details: DataFrame, replica_details: DataFrame
    ) -> DataFrame:
        """Close-command plane: CLOSING resend / quasi-closed force
        close / unstable handling (ReplicationManager.java:330-346,
        655-681, 929-977). Takes the state-detail planes explicitly —
        they are SCM-internal, not part of the Recon snapshot."""
        return scm.close_actions(container_details, replica_details)

    def datanode_usage(self, count: int = 10, most_used: bool = True) -> DataFrame:
        """`ozone admin datanode usageinfo`
        (SCMNodeManager.getMostOrLeastUsedDatanodes, :676-688)."""
        assert self.containers is not None and self.replicas is not None
        assert self.datanodes is not None
        return scm.datanode_usage(
            self.replicas, self.containers, self.datanodes,
            count=count, most_used=most_used,
        )

    def stale_multipart_uploads(
        self, uploads: DataFrame, parts: DataFrame, expire_before: str
    ) -> DataFrame:
        """Expired-MPU backlog with reclaimable bytes
        (S3MultipartUploadAbortRequest.java:157-170 byte law)."""
        return s3.stale_multipart_uploads(uploads, parts, expire_before)

    def abort_expired_uploads(
        self, uploads: DataFrame, parts: DataFrame, expire_before: str
    ) -> DataFrame:
        """Abort-as-transform over the expired MPU set
        (S3MultipartUploadAbortRequest.java:104-181)."""
        return s3.abort_expired_uploads(uploads, parts, expire_before)

    def pipeline_scrub(
        self, pipeline_details: DataFrame, now_ms: int,
        allocated_timeout_ms: int = 300_000,
    ) -> DataFrame:
        """Background pipeline scrubber actions
        (SCMPipelineManager.java:511-545)."""
        return scm.pipeline_scrub(
            pipeline_details, now_ms, allocated_timeout_ms
        )

    def container_delete_actions(
        self, container_details: DataFrame, replica_details: DataFrame
    ) -> DataFrame:
        """Container delete plane: DELETING cleanup/resend + empty
        CLOSED-container retirement (ReplicationManager.java:503-645)."""
        return scm.delete_actions(
            container_details, replica_details, self.keys
        )

    def resolve_bucket_links(self, buckets: DataFrame) -> DataFrame:
        """Bucket-link resolution map — every read RPC resolves
        through this before touching the key plane
        (OzoneManager.resolveBucketLink; loop pairs flagged instead of
        the DETECTED_LOOP_IN_BUCKET_LINKS throw)."""
        return listing.resolve_bucket_links(buckets)

    # --- security RPCs ----------------------------------------------------

    def renew_delegation_tokens(
        self, token_store: DataFrame, requests: DataFrame,
        now_ms: int, renew_interval_ms: int = 86_400_000,
    ) -> DataFrame:
        """RenewDelegationToken batched as a decision plane
        (OzoneDelegationTokenSecretManager.renewToken:285-327)."""
        return security.renew_decisions(
            token_store, requests, now_ms, renew_interval_ms
        )

    def cancel_delegation_tokens(
        self, token_store: DataFrame, requests: DataFrame
    ) -> DataFrame:
        """CancelDelegationToken batched
        (OzoneDelegationTokenSecretManager.cancelToken:347-396)."""
        return security.cancel_decisions(token_store, requests)

    def expired_token_sweep(
        self, token_store: DataFrame, now_ms: int
    ) -> DataFrame:
        """The background removeExpiredToken pass as a per-owner rollup
        (OzoneDelegationTokenSecretManager:594-615)."""
        return security.expiry_sweep(token_store, now_ms)

    # --- CDC --------------------------------------------------------------

    def current_state(self) -> DataFrame:
        """Read-your-writes view: snapshot ⊕ CDC tail (SO1)."""
        if self.events is None:
            return self.keys
        return cdc.merge_snapshot_with_tail(self.keys, self.events)
