"""Dynamic-partition MERGE: only touched partitions rewritten; result
equals relational replay. Plus bucketed co-located join (no shuffle)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hadoop_ozone_spark.sources import snapshot, upsert

SNAP_ROWS = [
    # volume, bucket, key, row_key, data_size
    ("v1", "b1", "a/k1", "/v1/b1/a/k1", 10),
    ("v1", "b1", "a/k2", "/v1/b1/a/k2", 20),
    ("v1", "b2", "a/k3", "/v1/b2/a/k3", 30),
    ("v2", "b1", "a/k4", "/v2/b1/a/k4", 40),
]
SCHEMA = "volume string, bucket string, key string, row_key string, data_size long"


def test_apply_events_merges_only_touched_partitions(spark):
    tmp = tempfile.mkdtemp(prefix="ozspark_upsert_")
    try:
        snap_df = spark.createDataFrame(SNAP_ROWS, SCHEMA)
        snapshot.write_snapshot(snap_df, f"{tmp}/snap")
        untouched_files = set(
            os.listdir(f"{tmp}/snap/volume=v2/bucket=b1")
        )
        events = spark.createDataFrame(
            [
                (1, "UPDATE", "v1", "b1", "a/k1", "/v1/b1/a/k1", 15),
                (2, "DELETE", "v1", "b1", "a/k2", "/v1/b1/a/k2", 0),
                (3, "PUT", "v1", "b1", "a/k9", "/v1/b1/a/k9", 99),
            ],
            "seqno long, op string, volume string, bucket string, key string, row_key string, data_size long",
        )
        upsert.apply_events_to_snapshot(spark, f"{tmp}/snap", events)
        got = {
            r["row_key"]: r["data_size"]
            for r in spark.read.parquet(f"{tmp}/snap").collect()
        }
        assert got == {
            "/v1/b1/a/k1": 15,   # updated
            "/v1/b1/a/k9": 99,   # inserted
            "/v1/b2/a/k3": 30,   # untouched partition
            "/v2/b1/a/k4": 40,   # untouched partition
        }
        # dynamic overwrite left the untouched partition's files alone
        assert set(os.listdir(f"{tmp}/snap/volume=v2/bucket=b1")) == untouched_files
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_delete_emptying_partition_does_not_resurrect(spark):
    """A DELETE batch that empties a partition must remove it — dynamic
    overwrite alone leaves zero-output partitions' old files in place."""
    tmp = tempfile.mkdtemp(prefix="ozspark_empty_")
    try:
        snap_df = spark.createDataFrame(SNAP_ROWS, SCHEMA)
        snapshot.write_snapshot(snap_df, f"{tmp}/snap")
        events = spark.createDataFrame(
            [(1, "DELETE", "v1", "b2", "a/k3", "/v1/b2/a/k3", 0)],
            "seqno long, op string, volume string, bucket string, key string, row_key string, data_size long",
        )
        upsert.apply_events_to_snapshot(spark, f"{tmp}/snap", events)
        got = sorted(
            r["row_key"] for r in spark.read.parquet(f"{tmp}/snap").collect()
        )
        assert got == ["/v1/b1/a/k1", "/v1/b1/a/k2", "/v2/b1/a/k4"]
        assert not os.path.exists(f"{tmp}/snap/volume=v1/bucket=b2")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


EVENT_SCHEMA = (
    "seqno long, op string, volume string, bucket string, key string,"
    " row_key string, data_size long"
)

# one batch per case, each over SNAP_ROWS
REPLAY_BATCHES = {
    "put_then_delete": [
        (1, "PUT", "v1", "b1", "a/k8", "/v1/b1/a/k8", 80),
        (2, "DELETE", "v1", "b1", "a/k8", "/v1/b1/a/k8", 0),
    ],
    "delete_then_put": [
        (1, "DELETE", "v1", "b1", "a/k1", "/v1/b1/a/k1", 10),
        (2, "PUT", "v1", "b1", "a/k1", "/v1/b1/a/k1", 11),
    ],
    "new_partition": [
        (1, "PUT", "v3", "b9", "a/k5", "/v3/b9/a/k5", 50),
        (2, "UPDATE", "v2", "b1", "a/k4", "/v2/b1/a/k4", 41),
    ],
    "empty_one_touched_keep_other": [
        (1, "DELETE", "v1", "b2", "a/k3", "/v1/b2/a/k3", 0),
        (2, "DELETE", "v1", "b1", "a/k2", "/v1/b1/a/k2", 0),
        (3, "UPDATE", "v1", "b1", "a/k1", "/v1/b1/a/k1", 12),
    ],
}


def _replay(rows, events):
    """Relational replay: apply the events one by one in seqno order."""
    state = {r[3]: r for r in rows}
    for _, op, volume, bucket, key, row_key, size in sorted(events):
        if op == "DELETE":
            state.pop(row_key, None)
        else:
            state[row_key] = (volume, bucket, key, row_key, size)
    return sorted(state.values())


def _partition_dirs(root):
    return {
        (v.split("=", 1)[1], b.split("=", 1)[1])
        for v in os.listdir(root)
        if v.startswith("volume=")
        for b in os.listdir(os.path.join(root, v))
        if b.startswith("bucket=")
    }


@pytest.mark.parametrize("case", sorted(REPLAY_BATCHES))
def test_apply_events_matches_relational_replay(spark, case):
    events = REPLAY_BATCHES[case]
    tmp = tempfile.mkdtemp(prefix="ozspark_replay_")
    try:
        snap = f"{tmp}/snap"
        snapshot.write_snapshot(spark.createDataFrame(SNAP_ROWS, SCHEMA), snap)
        held = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        upsert.apply_events_to_snapshot(
            spark, snap, spark.createDataFrame(events, EVENT_SCHEMA)
        )
        # the merge's checkpoint blocks are released
        assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == held
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(snap)
            .select("volume", "bucket", "key", "row_key", "data_size")
            .collect()
        )
        want = _replay(SNAP_ROWS, events)
        assert got == want
        # every partition on disk holds rows: emptied ones are removed,
        # new ones are created
        assert _partition_dirs(snap) == {(r[0], r[1]) for r in want}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_join_avoids_shuffle(spark):
    """Pre-bucketed tables co-locate the join: no Exchange in the plan
    (the 100 TB answer for repeated J1-style container joins)."""
    tmp = tempfile.mkdtemp(prefix="ozspark_bucket_")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    try:
        left = spark.range(10000).select(
            F.col("id").alias("container_id"), (F.col("id") * 7).alias("bytes")
        )
        right = spark.range(2000).select(
            F.col("id").alias("container_id"), F.lit("OPEN").alias("state")
        )
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")
        left.write.bucketBy(8, "container_id").sortBy("container_id").mode(
            "overwrite"
        ).saveAsTable("bkt_left")
        right.write.bucketBy(8, "container_id").sortBy("container_id").mode(
            "overwrite"
        ).saveAsTable("bkt_right")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "container_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")
        shutil.rmtree(tmp, ignore_errors=True)
