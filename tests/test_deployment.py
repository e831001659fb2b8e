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


def test_bucketed_tables_have_one_sorted_file_per_bucket(spark, snapshot):
    # the writer width is any divisor of BUCKETS (a whole set of buckets
    # per task); the file layout must not depend on it
    for table in deployment.BUCKETED:
        path = deployment.plane_path(snapshot["base"], table)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        ids = [int(re.search(BUCKET_ID, f).group(1)) for f in files]
        assert files and len(ids) == len(set(ids)), table
        assert all(0 <= b < deployment.BUCKETS for b in ids), table
        misplaced = (
            spark.read.parquet(path)
            .select(
                F.expr(f"pmod(hash(container_id), {deployment.BUCKETS})").alias("want"),
                F.regexp_extract("_metadata.file_name", BUCKET_ID, 1).cast("int").alias("got"),
            )
            .filter("want != got")
            .count()
        )
        assert misplaced == 0, table
        for f in files:
            cids = pq.read_table(os.path.join(path, f), columns=["container_id"])
            cids = cids.column(0).to_pylist()
            assert cids == sorted(cids), (table, f)
