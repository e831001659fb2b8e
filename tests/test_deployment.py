"""Deployment read path: the materialized snapshot + bucketed layout
must (a) serve byte-identical rows to the shim derivation, and (b) buy
the plan shapes the 100 TB story depends on — partition-pruned
namespace scans and shuffle-free container joins (VERDICT r3 #1/#2).
"""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from hadoop_ozone_spark import model
from hadoop_ozone_spark.sources import deployment


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def snapshot(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("snapshot"))
    # capture shim-mode witnesses BEFORE flipping the flag
    shim = {
        "om_keys": model.om_keys(spark, sf_dir).count(),
        "containers": model.containers(spark, sf_dir).count(),
        "a5": model.om_keys(spark, sf_dir)
        .groupBy("volume", "bucket")
        .agg(
            F.sum(F.col("data_size") * F.col("replication_factor")).alias("ub"),
            F.count(F.lit(1)).alias("un"),
        )
        .orderBy("volume", "bucket")
        .collect(),
        "j2_summary": entry.queries()["j2_health_summary"](spark, sf_dir).collect(),
    }
    deployment.ensure_snapshot(spark, sf_dir, base)
    model.clear_derived_cache()
    yield {"base": base, "shim": shim}
    # restore shim mode for the rest of the suite
    os.environ.pop(deployment.SNAPSHOT_ENV, None)
    model.clear_derived_cache()
    for tbl in deployment.BUCKETED:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_snapshot_serves_identical_rows(spark, sf_dir, snapshot):
    shim = snapshot["shim"]
    assert model.om_keys(spark, sf_dir).count() == shim["om_keys"]
    assert model.containers(spark, sf_dir).count() == shim["containers"]
    a5 = (
        model.om_keys(spark, sf_dir)
        .groupBy("volume", "bucket")
        .agg(
            F.sum(F.col("data_size") * F.col("replication_factor")).alias("ub"),
            F.count(F.lit(1)).alias("un"),
        )
        .orderBy("volume", "bucket")
        .collect()
    )
    assert a5 == shim["a5"]
    assert (
        entry.queries()["j2_health_summary"](spark, sf_dir).collect()
        == shim["j2_summary"]
    )


def test_snapshot_guard_refuses_wrong_sf(snapshot):
    # a snapshot of one sf must never serve another sf_dir
    assert deployment.is_built(snapshot["base"], "/root/testdata/sf0.01") is False


def test_namespace_scan_partition_prunes(spark, sf_dir, snapshot):
    scoped = model.om_keys(spark, sf_dir).filter(
        (F.col("volume") == "vol_a") & (F.col("bucket") == "bkt_f")
    )
    p = plan_of(scoped)
    # volume/bucket are partition columns of the materialized layout —
    # the predicate must prune directories, not filter rows post-scan
    assert "PartitionFilters: [" in p
    head = p.split("PartitionFilters:")[1][:200]
    assert "volume" in head and "bucket" in head


def test_j4_index_aggregation_is_shuffle_free(spark, sf_dir, snapshot):
    df = entry.queries()["j4_container_key_index"](spark, sf_dir)
    df.count()
    p = plan_of(df)
    assert "Bucketed: true" in p
    assert "Exchange hashpartitioning" not in p


def test_j2_container_join_is_shuffle_free(spark, sf_dir, snapshot):
    df = entry.queries()["j2_container_health"](spark, sf_dir)
    df.count()
    p = plan_of(df)
    assert "Bucketed: true" in p
    # zero co-location shuffles: the replica rollup and the
    # containers⋈counts join ride the bucketBy(container_id) layout;
    # the only permitted Exchanges are the final presentation sort
    # (rangepartitioning) and the 1-row broadcast scalars
    assert "Exchange hashpartitioning" not in p


def test_j1_keys_scan_stays_broadcast_only(spark, sf_dir, snapshot):
    df = entry.queries()["j1_keys_for_container"](spark, sf_dir)
    df.count()
    p = plan_of(df)
    assert "Exchange hashpartitioning" not in p
    assert "TakeOrderedAndProject" in p


# Spark names a bucketed file part-<task>-<uuid>_<bucket id>.c000…
BUCKET_ID = r"_(\d+)(?:\..*)?$"


def _assert_one_sorted_file_per_bucket(spark, path: str, buckets: int) -> None:
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    ids = [int(re.search(BUCKET_ID, f).group(1)) for f in files]
    assert files and len(ids) == len(set(ids)), path
    assert all(0 <= b < buckets for b in ids), path
    misplaced = (
        spark.read.parquet(path)
        .select(
            F.expr(f"pmod(hash(container_id), {buckets})").alias("want"),
            F.regexp_extract("_metadata.file_name", BUCKET_ID, 1).cast("int").alias("got"),
        )
        .filter("want != got")
        .count()
    )
    assert misplaced == 0, path
    for f in files:
        cids = pq.read_table(os.path.join(path, f), columns=["container_id"])
        cids = cids.column(0).to_pylist()
        assert cids == sorted(cids), (path, f)


def _declared_buckets(spark, table: str) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def test_bucket_count_rule():
    split = 128 * 1024 * 1024
    assert deployment.bucket_count(0, split) == 1
    assert deployment.bucket_count(2 * split - 1, split) == 1
    assert deployment.bucket_count(2 * split, split) == 2
    assert deployment.bucket_count(5 * split, split) == 4
    assert deployment.bucket_count(32 * split, split) == 32
    assert deployment.bucket_count(1000 * split, split) == 32
    for input_bytes in range(0, 70 * split, split // 3):
        n = deployment.bucket_count(input_bytes, split)
        assert n & (n - 1) == 0 and deployment.MAX_BUCKETS % n == 0, input_bytes


@pytest.mark.parametrize("buckets", ["derived", 32])
def test_bucketed_tables_have_one_sorted_file_per_bucket(
    spark, sf_dir, snapshot, tmp_path, buckets
):
    # the writer width is any divisor of the bucket count (a whole set of
    # buckets per task); the file layout must not depend on it
    if buckets == "derived":
        # the snapshot's six tables, all at the count the data earns
        n = deployment.data_bucket_count(spark, sf_dir)
        for table in deployment.BUCKETED:
            assert _declared_buckets(spark, table) == n, table
            path = deployment.bucketed_path(snapshot["base"], table, n)
            _assert_one_sorted_file_per_bucket(spark, path, n)
        return
    # the at-scale count, on one table written from the fixture data
    table = "rm_replicas_at_scale"
    try:
        deployment._write_bucketed(
            spark, sf_dir, table, "rm_replicas", str(tmp_path), buckets
        )
        assert _declared_buckets(spark, table) == buckets
        path = deployment.bucketed_path(str(tmp_path), table, buckets)
        _assert_one_sorted_file_per_bucket(spark, path, buckets)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_scan_fans_out_to_the_bucket_count(spark, sf_dir, snapshot):
    # one scan task per bucket: the count the data earns, not a fixed 32
    n = deployment.data_bucket_count(spark, sf_dir)
    assert n == 1  # well under 2 × the 128 MB split
    assert model.rm_replicas_bucketed(spark, sf_dir).rdd.getNumPartitions() == n
