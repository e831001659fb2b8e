"""Endpoint facade: each reference query signature answers and agrees
with the underlying operator."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hadoop_ozone_spark import model
from hadoop_ozone_spark.endpoints import OzoneAnalytics
from hadoop_ozone_spark.operators import listing, recon, s3
from hadoop_ozone_spark.sources.snapshot import write_snapshot


@pytest.fixture(scope="module")
def api(spark, sf_dir):
    return OzoneAnalytics(
        spark,
        keys=model.om_keys(spark, sf_dir),
        containers=model.containers(spark, sf_dir),
        replicas=model.container_replicas(spark, sf_dir),
        datanodes=model.datanodes(spark, sf_dir),
        pipelines=model.pipelines(spark, sf_dir),
        pipeline_members=model.pipeline_members(spark, sf_dir),
        replica_observations=model.replica_observations(spark, sf_dir),
        deleted_block_txns=model.deleted_block_txns(spark, sf_dir),
        audit=model.audit_log(spark, sf_dir),
    )


def test_list_keys_endpoint(api):
    page = api.list_keys("vol_r", "bkt_o", max_keys=10).collect()
    assert len(page) == 10
    assert all(r["row_key"].startswith("/vol_r/bkt_o/") for r in page)


def test_lookup_and_list_status(api):
    first = api.list_keys("vol_r", "bkt_o", max_keys=1).first()
    assert api.lookup_key(first["row_key"]).count() == 1
    children = api.list_status("vol_r", "bkt_o", "dir1").collect()
    assert children and all(r["is_dir"] for r in children)


def test_s3_and_utilization(api):
    out = api.list_objects_v2("vol_a", "bkt_f", prefix="dir1/").collect()
    assert {r["entry_type"] for r in out} == {"PREFIX"}
    hist = api.utilization_file_count(volume="vol_a", bucket="bkt_f").collect()
    assert hist and all(r["volume"] == "vol_a" for r in hist)


def test_cluster_endpoints(api):
    state = api.cluster_state().collect()
    assert len(state) == 1
    assert state[0]["total_pipelines"] > 0 and state[0]["healthy_datanodes"] > 0
    unhealthy = api.unhealthy_containers()
    assert unhealthy.filter(F.col("health") == "HEALTHY").count() == 0
    # per-state endpoint filter (MIS_REPLICATED itself is exercised on
    # synthetic fixtures in test_container_health — at sf0.001 the
    # sparse replica sample may not produce a placement violation)
    some_state = unhealthy.first()["health"]
    scoped = api.unhealthy_containers(state=some_state).collect()
    assert scoped and {r["health"] for r in scoped} == {some_state}


def test_scm_admin_endpoints(api):
    bal = api.balancer_utilization().collect()
    assert bal and all(
        r["classification"] in ("OVER_UTILIZED", "UNDER_UTILIZED", "WITHIN_THRESHOLD")
        for r in bal
    )
    decom = api.decommission_status().collect()
    assert all(r["op_state"] in ("DECOMMISSIONING", "ENTERING_MAINTENANCE") for r in decom)
    pending = api.pending_block_deletions().collect()
    assert pending and all(r["txn_count"] > 0 for r in pending)
    failed = api.failed_block_deletions(limit=5).collect()
    assert len(failed) <= 5


def test_safemode_endpoint(api):
    rules = {r["rule"] for r in api.safe_mode_status().collect()}
    assert rules == {
        "CONTAINER", "DATANODE", "HEALTHY_PIPELINE", "ONE_REPLICA_PIPELINE"
    }


def test_container_page_and_rack_spread(api):
    page = api.list_containers(prev_key=10, limit=5).collect()
    assert len(page) == 5
    assert all(r["container_id"] > 10 for r in page)
    ids = [r["container_id"] for r in page]
    assert ids == sorted(ids)
    spread = api.pipeline_rack_spread().collect()
    assert spread and all(r["actual_racks"] <= r["member_count"] for r in spread)


def test_heatmap_endpoint(api):
    hm = api.access_heatmap().collect()
    grand = [r for r in hm if r["volume"] is None]
    assert len(grand) == 1
    assert grand[0]["access_count"] == sum(
        r["access_count"] for r in hm if r["volume"] is not None and r["bucket"] is None
    )


def test_replication_planner_endpoints(api, spark, sf_dir):
    actions = api.replication_actions()
    kinds = {r["action"] for r in actions.select("action").distinct().collect()}
    assert kinds <= {
        "MISSING", "NO_HEALTHY_SOURCE", "ADD_REPLICA", "DELETE_REPLICA"
    }
    usage = api.datanode_usage(count=5).collect()
    assert len(usage) == 5
    # most-used ordering is by remaining-to-capacity RATIO ascending
    # (DatanodeUsageInfo.compareByRemainingRatio), not absolute bytes
    ratios = [r.remaining_bytes / r.capacity_bytes for r in usage]
    assert all(ratios[i] <= ratios[i + 1] for i in range(len(ratios) - 1))
    closes = api.close_actions(
        model.rm_container_details(spark, sf_dir),
        model.rm_replica_details(spark, sf_dir),
    )
    kinds = {r["action"] for r in closes.select("action").distinct().collect()}
    assert kinds <= {"CLOSE", "FORCE_CLOSE", "DELETE_UNHEALTHY"}


# --- serving small planes from one partition -------------------------------

# A shuffle Exchange (hash, range, single or round-robin), not a broadcast.
SHUFFLE = re.compile(r"(?<!Broadcast)Exchange ")


def planned(df) -> str:
    """The physical plan before execution: AQE's initial plan, which holds
    every Exchange the planner put in."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def planes(spark, sf_dir, tmp_path_factory):
    """The key and container planes as the snapshot serves them: the key
    plane partitioned by (volume, bucket), both read back from parquet."""
    base = tmp_path_factory.mktemp("serving")
    write_snapshot(model.om_keys(spark, sf_dir), str(base / "om_keys"))
    model.containers(spark, sf_dir).write.parquet(str(base / "containers"))
    return (spark.read.parquet(str(base / "om_keys")),
            spark.read.parquet(str(base / "containers")))


@pytest.fixture(scope="module")
def served(spark, planes):
    keys, containers = planes
    return OzoneAnalytics(spark, keys, containers=containers)


def _requests(keys):
    """The seven api_serving request kinds: the facade call's arguments
    and the operator call it answers, on the raw frames."""
    row = keys.filter(F.col("volume") == "vol_r").orderBy("row_key").first()
    vb = (F.col("volume") == "vol_r") & (F.col("bucket") == "bkt_o")
    return {
        "list_keys": (
            dict(volume="vol_r", bucket="bkt_o", start_key="/vol_r/bkt_o/dir1/", max_keys=100),
            lambda k, c: listing.list_keys(k, volume="vol_r", bucket="bkt_o",
                                           start_key="/vol_r/bkt_o/dir1/", max_keys=100),
        ),
        "lookup_key": (
            dict(row_key=row["row_key"]),
            lambda k, c: listing.point_lookup(k, row["row_key"]),
        ),
        "list_status": (
            dict(volume="vol_r", bucket="bkt_o", dir_path="dir1"),
            lambda k, c: listing.list_status(k.filter(vb).select("key", "data_size"), "dir1"),
        ),
        "list_objects_v2": (
            dict(volume="vol_r", bucket="bkt_o", prefix="dir1/", max_keys=100),
            lambda k, c: s3.list_objects_v2(k.filter(vb), prefix="dir1/", max_keys=100),
        ),
        "namespace_summary": (
            dict(volume="vol_r", bucket="bkt_o"),
            lambda k, c: recon.namespace_du(k.filter(vb)),
        ),
        "containers_keys": (
            dict(container_id=row["container_id"], max_keys=100),
            lambda k, c: recon.keys_for_container(k, c, row["container_id"], 100),
        ),
        "utilization_file_count": (
            dict(volume="vol_r", bucket="bkt_o"),
            lambda k, c: recon.file_size_histogram(k).filter(vb),
        ),
    }


KINDS = ["list_keys", "lookup_key", "list_status", "list_objects_v2",
         "namespace_summary", "containers_keys", "utilization_file_count"]


@pytest.mark.parametrize("kind", KINDS)
def test_small_plane_request_plans_no_shuffle(served, planes, kind):
    """A plane of at most the smallest split is served from one
    partition: no request kind plans a shuffle, and each returns the
    operator's rows over the raw frame, in the same order."""
    args, operator = _requests(planes[0])[kind]
    out = getattr(served, kind)(**args)
    plan = planned(out)
    assert not SHUFFLE.search(plan), plan
    assert plan.count("BroadcastExchange") == (kind == "containers_keys"), plan
    want = operator(*planes).collect()
    assert want and out.collect() == want


@pytest.mark.parametrize("conf", ["spark.sql.files.maxPartitionBytes",
                                  "spark.sql.files.openCostInBytes"])
def test_plane_above_the_smallest_split_keeps_its_plans(spark, planes, conf):
    """With either bound of the smallest scan split set below the plane's
    size, the facade leaves the frame as given (its scan keeps the tasks
    Spark plans for it) and list_status keeps its exchanges."""
    keys = planes[0]
    size = keys._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    before = spark.conf.get(conf)
    spark.conf.set(conf, str(size - 1))
    try:
        api = OzoneAnalytics(spark, keys)
        assert api.keys is keys
        plan = planned(api.list_status("vol_r", "bkt_o", "dir1"))
        assert "Exchange hashpartitioning" in plan and "Exchange rangepartitioning" in plan
    finally:
        spark.conf.set(conf, before)
    assert OzoneAnalytics(spark, keys).keys is not keys


def test_unsized_and_streaming_frames_are_left_alone(spark, planes):
    """A frame Spark cannot size (default estimate) and a streaming frame
    are held as given."""
    unsized = spark.sparkContext.parallelize([("/v/b/k",)]).toDF(["row_key"])
    stream = spark.readStream.format("rate").load()
    api = OzoneAnalytics(spark, unsized, events=stream)
    assert api.keys is unsized and api.events is stream
