"""Snapshot bootstrap under concurrency: the derived-table memo builds
each plane once however many threads ask, a failed plane write fails
``ensure_snapshot`` loudly and leaves nothing half-built or still
writing, a snapshot of an older layout is rebuilt whole, and existing
bucketed files are registered at the bucket count they were written
with."""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from hadoop_ozone_spark import model
from hadoop_ozone_spark.sources import deployment


@pytest.fixture(autouse=True)
def shim_mode(spark):
    model.clear_derived_cache()
    yield
    os.environ.pop(deployment.SNAPSHOT_ENV, None)
    model.clear_derived_cache()
    for tbl in deployment.BUCKETED:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _root(base: str, name: str) -> str:
    if name in deployment.BUCKETED:
        return deployment.bucketed_path(base, name, deployment.written_buckets(base, name))
    return deployment.plane_path(base, name)


def _parts(base: str, name: str) -> set[str]:
    root = _root(base, name)
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }


def _listing(base: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(base)
        for f in fs
    }


def test_memo_builds_once_under_concurrent_callers(spark, sf_dir, monkeypatch):
    builds = []
    real = model._build_om_keys

    def slow_build(spark, sf_dir):
        builds.append(threading.get_ident())
        time.sleep(0.2)  # widen the window a racing second build would use
        return real(spark, sf_dir)

    monkeypatch.setattr(model, "_build_om_keys", slow_build)
    start = threading.Barrier(8, timeout=60)

    def call(_):
        start.wait()
        return model.om_keys(spark, sf_dir)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            frames = list(pool.map(call, range(8), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all(df is frames[0] for df in frames)
    assert len(builds) == 1
    keys = [k for k in model._DERIVED_CACHE if k[1:] == (sf_dir, "om_keys")]
    assert len(keys) == 1 and model._DERIVED_CACHE[keys[0]] is frames[0]


def test_failed_plane_fails_the_bootstrap_loudly(spark, sf_dir, tmp_path, monkeypatch):
    base = str(tmp_path / "snapshot")
    slow_started = threading.Event()
    real = model._build_om_buckets

    def slow_build(spark, sf_dir):
        slow_started.set()
        time.sleep(1.0)
        return real(spark, sf_dir)

    def failing_build(spark, sf_dir):
        slow_started.wait(timeout=60)  # fail while another write is in flight
        raise RuntimeError("datanodes derivation failed")

    monkeypatch.setattr(model, "_build_om_buckets", slow_build)
    monkeypatch.setattr(model, "_build_datanodes", failing_build)
    with pytest.raises(RuntimeError, match="datanodes derivation failed"):
        deployment.ensure_snapshot(spark, sf_dir, base)
    assert not os.path.exists(os.path.join(base, "_SOURCE_SF_DIR"))
    assert deployment.is_built(base, sf_dir) is False
    assert deployment.snapshot_dir() != base
    # the write in flight at the failure was finished before the raise ...
    assert os.path.exists(os.path.join(base, "om_buckets", "_SUCCESS"))
    # ... and nothing is still writing after it
    before = _listing(base)
    time.sleep(2.0)
    assert _listing(base) == before


def test_stale_layout_rebuilds_every_plane_and_table(spark, sf_dir, tmp_path, monkeypatch):
    base = str(tmp_path / "snapshot")
    deployment.ensure_snapshot(spark, sf_dir, base)
    names = (*deployment.PLANES, *deployment.BUCKETED)
    old = {name: _parts(base, name) for name in names}
    # a v8 snapshot: bucketed-table directories carry no bucket count
    for table in deployment.BUCKETED:
        os.rename(_root(base, table), deployment.plane_path(base, table))
    with open(os.path.join(base, "_SOURCE_SF_DIR"), "w") as fh:
        fh.write(f"{os.path.normpath(sf_dir)}@v8")
    assert deployment.is_built(base, sf_dir) is False

    forced, statements = [], []
    register, sql = deployment.register_bucketed, spark.sql

    def spy_register(spark, sf_dir, base, force=False):
        forced.append(force)
        return register(spark, sf_dir, base, force)

    def spy_sql(query, *args, **kwargs):
        statements.append(query)
        return sql(query, *args, **kwargs)

    monkeypatch.setattr(deployment, "register_bucketed", spy_register)
    monkeypatch.setattr(spark, "sql", spy_sql)
    deployment.ensure_snapshot(spark, sf_dir, base)

    assert deployment.is_built(base, sf_dir) is True
    assert forced == [True]
    dropped = {q.split()[-1] for q in statements if q.startswith("DROP TABLE IF EXISTS")}
    assert dropped == set(deployment.BUCKETED)
    for name in names:
        new = _parts(base, name)
        assert new and not (new & old[name]), f"{name} was not rewritten"
    for table in deployment.BUCKETED:
        assert spark.catalog.tableExists(table)
        assert not os.path.exists(deployment.plane_path(base, table))  # v8 copy removed


def _table_info(spark, table: str) -> dict[str, str]:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return {r.col_name: r.data_type for r in rows}


def test_registration_declares_the_written_bucket_count(spark, sf_dir, tmp_path):
    base = str(tmp_path / "snapshot")
    deployment.register_bucketed(spark, sf_dir, base)
    first = deployment.data_bucket_count(spark, sf_dir)
    rows = {t: sorted(spark.table(t).collect(), key=repr) for t in deployment.BUCKETED}
    for table in deployment.BUCKETED:
        spark.sql(f"DROP TABLE {table}")

    # a smaller split target makes the same data earn more buckets
    input_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(sf_dir) for f in fs
    )
    conf = "spark.sql.files.maxPartitionBytes"
    split = spark.conf.get(conf)
    spark.conf.set(conf, str(input_bytes // (4 * first)))
    try:
        assert deployment.data_bucket_count(spark, sf_dir) == 4 * first
        deployment.register_bucketed(spark, sf_dir, base)
    finally:
        spark.conf.set(conf, split)

    declared = {t: int(_table_info(spark, t)["Num Buckets"]) for t in deployment.BUCKETED}
    assert len(set(declared.values())) == 1  # still co-located
    for table, buckets in declared.items():
        # the files under the declared location were written with the
        # declared count: every row sits in its pmod(hash, n) bucket file
        location = _table_info(spark, table)["Location"]
        assert location.endswith(f"{table}.b{buckets}"), table
        misplaced = (
            spark.read.parquet(location)
            .select(
                F.expr(f"pmod(hash(container_id), {buckets})").alias("want"),
                F.regexp_extract("_metadata.file_name", r"_(\d+)(?:\..*)?$", 1)
                .cast("int")
                .alias("got"),
            )
            .filter("want != got")
            .count()
        )
        assert misplaced == 0, table
        assert sorted(spark.table(table).collect(), key=repr) == rows[table], table
