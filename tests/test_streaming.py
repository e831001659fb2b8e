"""Structured Streaming maintenance: process ≡ reprocess equivalence
(the reference's core Recon contract, FIXTURES §10.5)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_ozone_spark.streaming import maintenance

EVENTS = [
    # seqno, op, row_key, data_size, old_size, event_time
    (1, "PUT", "/v/b/k1", 500, None, "2024-01-01 00:00:01"),
    (2, "PUT", "/v/b/k2", 2000, None, "2024-01-01 00:00:02"),
    (3, "UPDATE", "/v/b/k1", 1500, 500, "2024-01-01 00:00:03"),
    (4, "DELETE", "/v/b/k2", 2000, None, "2024-01-01 00:00:04"),
    (5, "PUT", "/v/b/k3", 4096, None, "2024-01-01 00:00:05"),
]


@pytest.fixture()
def events_df(spark):
    df = spark.createDataFrame(
        [(s, op, k, d, o, t) for s, op, k, d, o, t in EVENTS],
        "seqno long, op string, row_key string, data_size long, old_size long, event_time string",
    )
    return df.withColumn("event_time", F.to_timestamp("event_time"))


def test_size_delta_update_retraction(events_df):
    """UPDATE contributes (−old +new) — ref FileSizeCountTask:115-157."""
    d = {r["seqno"]: (r["count_delta"], r["bytes_delta"]) for r in maintenance.size_delta(events_df).collect()}
    assert d[1] == (1, 500)
    assert d[3] == (0, 1000)   # 1500 − 500
    assert d[4] == (-1, -2000)


def test_foreachbatch_merge_process_equals_reprocess(spark, events_df):
    """Stream the events file-by-file; final mart must equal the batch
    recompute over all events (process ≡ reprocess)."""
    tmp = tempfile.mkdtemp(prefix="ozspark_stream_")
    events_dir, mart_dir, ckpt = f"{tmp}/events", f"{tmp}/mart", f"{tmp}/ckpt"
    try:
        # write each event as its own file → one micro-batch each
        for i, row in enumerate(events_df.collect()):
            spark.createDataFrame([row], schema=maintenance.EVENT_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(events_dir)
        stream = maintenance.read_event_stream(spark, events_dir)
        q = maintenance.run_foreachbatch_merge(stream, mart_dir, ckpt)
        q.awaitTermination(120)
        mart = maintenance.read_mart(spark, mart_dir).first()
        batch = (
            maintenance.size_delta(events_df)
            .groupBy()
            .agg(
                F.sum("count_delta").alias("net_count"),
                F.sum("bytes_delta").alias("net_bytes"),
            )
            .first()
        )
        # PUT k1 +1, PUT k2 +1, UPDATE 0, DELETE −1, PUT k3 +1 → 2
        assert mart["net_count"] == batch["net_count"] == 2
        # 500 + 2000 + (1500−500) − 2000 + 4096
        assert mart["net_bytes"] == batch["net_bytes"] == 500 + 2000 + 1000 - 2000 + 4096
        assert mart["last_seqno"] == 5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_foreachbatch_merge_mart_schema_and_replay(spark, events_df):
    """Two micro-batches, then the second one replayed with the same
    batch id (its commit dropped from the checkpoint, as after a crash
    between the sink write and the commit): the mart holds one long row
    per version, each version in its own ``batch-<id>`` directory, and
    the replay leaves it untouched."""
    tmp = tempfile.mkdtemp(prefix="ozspark_stream_")
    events_dir, mart_dir, ckpt = f"{tmp}/events", f"{tmp}/mart", f"{tmp}/ckpt"
    rows = events_df.collect()

    def run():
        stream = maintenance.read_event_stream(spark, events_dir, 10)
        maintenance.run_foreachbatch_merge(stream, mart_dir, ckpt).awaitTermination(120)
        return maintenance.read_mart(spark, mart_dir)

    def append(part):
        spark.createDataFrame(part, schema=maintenance.EVENT_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(events_dir)

    try:
        append(rows[:2])  # batch 0: PUT k1 500, PUT k2 2000
        first = run()
        assert [(f.name, f.dataType.simpleString()) for f in first.schema] == [
            ("net_count", "bigint"),
            ("net_bytes", "bigint"),
            ("last_seqno", "bigint"),
            ("last_batch_id", "bigint"),
        ]
        assert [tuple(r) for r in first.collect()] == [(2, 2500, 2, 0)]

        append(rows[2:])  # batch 1: UPDATE k1 +1000, DELETE k2, PUT k3 4096
        second = [tuple(r) for r in run().collect()]
        assert second == [(2, 2500 + 1000 - 2000 + 4096, 5, 1)]
        assert sorted(os.listdir(mart_dir)) == ["batch-1"]

        # replay batch 1: same id, same rows → the mart must not move
        for f in ("1", ".1.crc"):  # the commit and its Hadoop checksum
            os.remove(f"{ckpt}/commits/{f}")
        replayed = run()
        assert [tuple(r) for r in replayed.collect()] == second
        assert sorted(os.listdir(mart_dir)) == ["batch-1"]
        assert os.path.exists(f"{ckpt}/commits/1")  # the replay ran
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_histogram_matches_batch(spark, events_df):
    """Update-mode histogram over the stream ≡ batch signed histogram."""
    tmp = tempfile.mkdtemp(prefix="ozspark_hist_")
    try:
        events_df.write.mode("overwrite").parquet(f"{tmp}/events")
        stream = maintenance.read_event_stream(spark, f"{tmp}/events", max_files_per_trigger=10)
        hist = maintenance.streaming_file_size_histogram(stream)
        q = (
            hist.writeStream.format("memory")
            .queryName("hist_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["file_size"]: r["cnt"]
            for r in spark.sql("SELECT * FROM hist_test").collect()
        }
        # k1 PUT 500→+bin1024, then UPDATE 500→1500 moves it: −1024 +2048
        # (FileSizeCountTask retract+emit); k2 PUT+DELETE 2000 nets 0 in
        # 2048; k3 PUT 4096 (exact power of two → NEXT bin, per
        # ReconUtils bit-count semantics) → bin 8192.
        assert got[1024] == 0
        assert got[2048] == 1
        assert got[8192] == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_by_seqno(spark):
    """Exactly-once event consumption: duplicate seqnos in the feed
    (redelivery) are dropped with dropDuplicatesWithinWatermark —
    the stream twin of the per-key max(seqno) dedup (SURVEY §2.9)."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ozspark_dedup_")
    try:
        rows = [
            (1, "PUT", "/v/b/k1", 100, None, "2024-01-01 00:00:01"),
            (1, "PUT", "/v/b/k1", 100, None, "2024-01-01 00:00:01"),  # redelivered
            (2, "PUT", "/v/b/k2", 200, None, "2024-01-01 00:00:02"),
            (2, "PUT", "/v/b/k2", 200, None, "2024-01-01 00:00:02"),  # redelivered
            (3, "DELETE", "/v/b/k1", 100, None, "2024-01-01 00:00:03"),
        ]
        df = spark.createDataFrame(
            rows,
            "seqno long, op string, row_key string, data_size long, old_size long, event_time string",
        ).withColumn("event_time", F.to_timestamp("event_time"))
        df.write.mode("overwrite").parquet(f"{tmp}/events")
        stream = maintenance.read_event_stream(spark, f"{tmp}/events", max_files_per_trigger=100)
        deduped = stream.withWatermark("event_time", "1 hour").dropDuplicatesWithinWatermark(
            ["seqno"]
        )
        agg = deduped.groupBy("op").agg(F.count(F.lit(1)).alias("cnt"))
        q = (
            agg.writeStream.format("memory")
            .queryName("dedup_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["op"]: r["cnt"] for r in spark.sql("SELECT * FROM dedup_test").collect()}
        assert got == {"PUT": 2, "DELETE": 1}  # redeliveries dropped
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_container_index_matches_batch(spark, events_df):
    """J4 incremental (ContainerKeyMapperTask.process) ≡ reprocess:
    stream the events into the per-container running index, then
    recompute the same index from the compacted final state — the two
    marts must agree on every surviving container."""
    tmp = tempfile.mkdtemp(prefix="ozspark_ckidx_")
    try:
        events_df.write.mode("overwrite").parquet(f"{tmp}/events")
        stream = maintenance.read_event_stream(
            spark, f"{tmp}/events", max_files_per_trigger=10
        )
        idx = maintenance.streaming_container_key_index(stream)
        q = (
            idx.writeStream.format("memory")
            .queryName("ckidx_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["container_id"]: (r["num_keys"], r["total_bytes"])
            for r in spark.sql("SELECT * FROM ckidx_test").collect()
            if r["num_keys"] > 0
        }
        # reprocess: latest-op-wins compaction of the same events, then
        # the batch index over the surviving keys
        w = Window.partitionBy("row_key").orderBy(F.desc("seqno"))
        survivors = (
            events_df.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "DELETE"))
            .select("row_key", "data_size")
        )
        batch = {
            r["container_id"]: (r["num_keys"], r["total_bytes"])
            for r in survivors.groupBy(
                maintenance.default_container_of().alias("container_id")
            )
            .agg(
                F.count(F.lit(1)).alias("num_keys"),
                F.sum("data_size").alias("total_bytes"),
            )
            .collect()
        }
        assert got == batch
        assert sum(n for n, _ in got.values()) == 2  # k1 (updated) + k3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_replica_health_matches_batch(spark):
    # stream ADD/REMOVE replica reports in micro-batches; the final
    # per-container counts + health classes must equal the one-shot
    # batch law over the same reports (process ≡ reprocess)
    import datetime as dt
    import shutil
    import tempfile

    rows = []
    seq = 0
    for c in range(1, 9):
        for d in range(c % 4 + 1):          # containers get 1-4 adds
            seq += 1
            rows.append((seq, "ADD", c, d, dt.datetime(2024, 1, 1, 0, seq)))
    seq += 1
    rows.append((seq, "REMOVE", 4, 0, dt.datetime(2024, 1, 1, 2, 0)))
    reports = spark.createDataFrame(rows, maintenance.REPLICA_REPORT_SCHEMA)
    containers = spark.createDataFrame(
        [(c, "CLOSED" if c % 2 else "OPEN", 3, 0, 0) for c in range(1, 10)],
        "container_id long, state string, replication_factor int, "
        "used_bytes long, pipeline_id long",
    )
    tmp = tempfile.mkdtemp(prefix="ozspark_health_stream_")
    try:
        reports.repartition(6).write.parquet(f"{tmp}/reports")
        stream = maintenance.read_replica_report_stream(
            spark, f"{tmp}/reports", max_files_per_trigger=1
        )
        q = (
            maintenance.streaming_replica_counts(stream)
            .writeStream.format("memory")
            .queryName("replica_counts")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # memory sink in update mode appends every updated row; the
        # mart MERGE keeps the newest per key — deterministically the
        # row with the highest seqno high-water mark
        latest = (
            spark.table("replica_counts")
            .groupBy("container_id")
            .agg(F.max_by("replica_count", "last_seqno").alias("replica_count"))
        )
        streamed = {
            r.container_id: (r.replica_count, r.health)
            for r in maintenance.classify_health_batch(latest, containers).collect()
        }
        batch_counts = reports.groupBy("container_id").agg(
            F.sum(
                F.when(F.col("op") == "ADD", 1).otherwise(-1)
            ).alias("replica_count")
        )
        expected = {
            r.container_id: (r.replica_count, r.health)
            for r in maintenance.classify_health_batch(batch_counts, containers).collect()
        }
        assert streamed == expected
        assert expected[9] == (0, "MISSING")       # never-reported container
        assert expected[4][1] == "MISSING"         # 1 add − 1 remove → 0
        assert expected[5][1] == "UNDER_REPLICATED"  # 2 of rf 3
        assert expected[7][1] == "OVER_REPLICATED"   # 4 of rf 3
        assert expected[6][1] == "HEALTHY"           # exactly 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
