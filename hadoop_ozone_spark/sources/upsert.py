"""CDC → snapshot maintenance: dynamic-partition MERGE.

The reference applies cache mutations to RocksDB via batched
WriteBatches (OzoneManagerDoubleBuffer.java:187-300). On immutable
parquet the equivalent is: take the micro-batch of events, find the
``(volume, bucket)`` partitions it touches, rewrite ONLY those
partitions as (old rows − deleted − replaced) ∪ upserts, using Spark's
dynamic partition overwrite so untouched partitions are untouched
files. At 100 TB a micro-batch touches a handful of hot buckets —
the rewrite is proportional to touched data, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_ozone_spark.operators import cdc


def apply_events_to_snapshot(
    spark: SparkSession,
    snapshot_dir: str,
    events: DataFrame,
    key_col: str = "row_key",
) -> None:
    """MERGE a batch of CDC events into the partitioned snapshot.

    events: (seqno, op, row_key, volume, bucket, key, data_size, ...)
    — latest-op-wins within the batch, DELETE drops the row, PUT/UPDATE
    upserts the payload.
    """
    compacted = cdc.latest_state(events, key_col=key_col)  # PUT/UPDATE survivors
    # Touched-partition set stays a DataFrame — no driver collect of the
    # (unbounded at 100× namespace breadth) partition list. Dynamic
    # partition overwrite is scoped to THIS write via the writer option,
    # never the shared session conf (a later static full-bootstrap
    # overwrite on the same session must not inherit dynamic mode).
    touched_df = events.select("volume", "bucket").distinct()
    snap = spark.read.parquet(snapshot_dir)
    affected_old = snap.join(F.broadcast(touched_df), ["volume", "bucket"], "left_semi")
    all_batch_keys = events.select(key_col).distinct()
    kept = affected_old.join(all_batch_keys, key_col, "left_anti")
    cols = snap.columns
    # The merge runs ONCE, into a checkpoint leaf that no longer reads
    # snapshot_dir. A persist would not do: its plan reads the path the
    # write below overwrites, the write's path refresh drops that cache,
    # and every later action on it re-runs the merge over the rewritten
    # files. (Not scratch.keep_ckpt either — its same-plan reuse would
    # serve the previous batch's rows for a byte-identical plan over
    # rewritten files.)
    #
    # The events' columns are cast to the plane's types before the
    # union, so the rewritten partitions keep the schema of the files
    # beside them. A value the plane's type cannot hold fails the ANSI
    # cast inside this checkpoint, before anything is written.
    typed = compacted.select(
        *[F.col(f.name).cast(f.dataType) for f in snap.schema.fields]
    )
    merged = kept.select(*cols).unionByName(typed).localCheckpoint()
    # Dynamic overwrite only replaces partitions PRESENT in the written
    # data. A touched partition whose every row was deleted produces no
    # output rows, so its old files would survive — deleted keys would
    # resurrect. Find those partitions from the leaf before the write and
    # remove their directories after it (Hadoop FS API, so HDFS/S3A work
    # the same as local). The collect is bounded by the EMPTIED-partition
    # count (normally ~0), not the touched count.
    emptied = touched_df.join(
        merged.select("volume", "bucket").distinct(), ["volume", "bucket"], "left_anti"
    ).collect()
    try:
        (
            merged.repartition("volume", "bucket")
            .sortWithinPartitions("key")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("volume", "bucket")
            .parquet(snapshot_dir)
        )
    finally:
        # Dataset.unpersist does not release a localCheckpoint's blocks;
        # the checkpointed RDD under the leaf does
        merged._jdf.queryExecution().analyzed().rdd().unpersist(False)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for r in emptied:
        path = jvm.org.apache.hadoop.fs.Path(
            f"{snapshot_dir}/volume={r['volume']}/bucket={r['bucket']}"
        )
        fs = path.getFileSystem(hconf)
        fs.delete(path, True)
