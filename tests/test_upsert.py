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


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


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
        held = _persistent_rdd_ids(spark)
        upsert.apply_events_to_snapshot(
            spark, snap, spark.createDataFrame(events, EVENT_SCHEMA)
        )
        # the merge's checkpoint blocks are released: no RDD the call
        # persisted is still registered (a subset, not an equal count —
        # the ContextCleaner may drop earlier tests' RDDs meanwhile)
        assert _persistent_rdd_ids(spark) <= held
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


TYPED_SCHEMA = SCHEMA + ", replication_factor int"
# events as createDataFrame infers them: replication_factor is bigint
TYPED_EVENT_SCHEMA = EVENT_SCHEMA + ", replication_factor long"


def _typed_snapshot(spark, root):
    rows = [r + (3,) for r in SNAP_ROWS]
    snapshot.write_snapshot(spark.createDataFrame(rows, TYPED_SCHEMA), root)


def _files(root):
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(root)
        for f in fs
    }


def test_upsert_keeps_the_plane_schema_for_wider_event_types(spark):
    """A bigint replication_factor batch merges into an INT32 plane:
    the rewritten partition stays INT32 beside the untouched ones, so
    the plane reads back as one schema."""
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="ozspark_typed_")
    try:
        snap = f"{tmp}/snap"
        _typed_snapshot(spark, snap)
        events = spark.createDataFrame(
            [(1, "PUT", "v1", "b1", "a/k7", "/v1/b1/a/k7", 70, 2)],
            TYPED_EVENT_SCHEMA,
        )
        upsert.apply_events_to_snapshot(spark, snap, events)
        plane = spark.read.parquet(snap)
        assert dict(plane.dtypes)["replication_factor"] == "int"
        got = {r.row_key: r.replication_factor for r in plane.collect()}
        assert got["/v1/b1/a/k7"] == 2 and got["/v2/b1/a/k4"] == 3
        assert len(got) == len(SNAP_ROWS) + 1
        touched = f"{snap}/volume=v1/bucket=b1"
        for f in os.listdir(touched):
            if f.endswith(".parquet"):
                typ = pq.read_schema(os.path.join(touched, f)).field(
                    "replication_factor"
                ).type
                assert str(typ) == "int32", f
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_upsert_out_of_range_value_fails_before_any_write(spark):
    """A replication_factor above 2^31 cannot be held by the INT32
    plane: the ANSI cast fails inside the merge checkpoint, and no file
    under the snapshot changes."""
    tmp = tempfile.mkdtemp(prefix="ozspark_overflow_")
    try:
        snap = f"{tmp}/snap"
        _typed_snapshot(spark, snap)
        before = _files(snap)
        events = spark.createDataFrame(
            [(1, "PUT", "v1", "b1", "a/k7", "/v1/b1/a/k7", 70, 2**31 + 5)],
            TYPED_EVENT_SCHEMA,
        )
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            upsert.apply_events_to_snapshot(spark, snap, events)
        assert _files(snap) == before
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
