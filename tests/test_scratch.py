"""Scratch-cache registry laws (ADVICE r5): bounded generations per
slot, steady-state reuse for identical plans, release on plan change."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_ozone_spark import scratch
from hadoop_ozone_spark.datapipe import dedup
from hadoop_ozone_spark.operators import listing


def _agg(spark, n):
    return spark.range(n).withColumn("x", F.col("id") % 7).groupBy("x").count()


def test_same_plan_reuses_cached_frame(spark):
    scratch.fresh("t_reuse")
    a = scratch.keep("t_reuse", _agg(spark, 100))
    a.count()
    scratch.fresh("t_reuse")
    b = scratch.keep("t_reuse", _agg(spark, 100))
    assert a is b  # the previous generation's cache is reused
    assert b.storageLevel.useMemory


def test_plan_change_releases_previous_generation(spark):
    scratch.fresh("t_rel")
    a = scratch.keep("t_rel", _agg(spark, 100))
    a.count()
    scratch.fresh("t_rel")
    c = scratch.keep("t_rel", _agg(spark, 200))
    assert c is not a
    assert not a.storageLevel.useMemory  # old generation released
    assert c.storageLevel.useMemory


def test_multiple_slots_align_by_position(spark):
    scratch.fresh("t_slots")
    a1 = scratch.keep("t_slots", _agg(spark, 100))
    a2 = scratch.keep("t_slots", _agg(spark, 300))
    scratch.fresh("t_slots")
    b1 = scratch.keep("t_slots", _agg(spark, 100))
    b2 = scratch.keep("t_slots", _agg(spark, 300))
    assert a1 is b1 and a2 is b2


def test_keep_ckpt_returns_leaf_and_reuses(spark):
    scratch.fresh("t_ckpt")
    a = scratch.keep_ckpt("t_ckpt", _agg(spark, 100))
    # the registered artifact is a checkpoint LEAF, not the full plan
    assert "LogicalRDD" in a._jdf.queryExecution().analyzed().toString()
    scratch.fresh("t_ckpt")
    b = scratch.keep_ckpt("t_ckpt", _agg(spark, 100))
    assert a is b  # steady state: one checkpoint serves both calls
    scratch.fresh("t_ckpt")
    c = scratch.keep_ckpt("t_ckpt", _agg(spark, 200))
    assert c is not a  # plan change: new generation


def test_keep_ckpt_replacement_releases_previous_checkpoint(spark):
    """Replacing a slot frees the old localCheckpoint's blocks, which
    Dataset.unpersist alone does not: the old checkpoint's RDD leaves
    the persistent-RDD registry and the new one is live."""

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def rdd_id(ck):
        return ck._jdf.queryExecution().analyzed().rdd().id()

    scratch.fresh("t_ckpt_rel")
    old = scratch.keep_ckpt("t_ckpt_rel", _agg(spark, 300))
    assert rdd_id(old) in persistent()
    scratch.fresh("t_ckpt_rel")
    c = scratch.keep_ckpt("t_ckpt_rel", _agg(spark, 400))
    after = persistent()
    assert rdd_id(old) not in after
    assert rdd_id(c) in after
    assert c.count() == 7  # the new generation is live


def test_session_key_detects_spark_connect_explicitly(spark, monkeypatch):
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.sources import deployment

    class StubConnectSession:
        session_id = "connect-session-7"

        @property
        def sparkContext(self):
            raise AssertionError("a Spark Connect session has no sparkContext")

    class StubFrame:
        sparkSession = StubConnectSession()

        def persist(self):
            return self

    monkeypatch.setattr(scratch, "_ConnectSession", StubConnectSession)
    monkeypatch.delenv(deployment.SNAPSHOT_ENV, raising=False)
    frame = StubFrame()
    assert scratch._session_key(frame.sparkSession) == "connect-session-7"
    assert scratch._session_key(frame) == "connect-session-7"
    # the derived-plane memo keys a Connect session the same way
    key = ("connect-session-7", "/stub/sf", "stub_plane")
    try:
        plane = model._memoized("stub_plane", frame.sparkSession, "/stub/sf", lambda: frame)
        assert plane is frame
        assert model._DERIVED_CACHE[key] is frame
    finally:
        model._DERIVED_CACHE.pop(key, None)
        model._KEY_LOCKS.pop(key, None)
    # a classic session is still keyed by its application id
    assert scratch._session_key(spark) == spark.sparkContext.applicationId


def _chain_pairs(spark):
    # an 8-node chain: one round of label propagation cannot converge
    return spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )


def _chain_links(spark):
    # b0 -> b1 -> ... -> b4 (a real bucket): 4 hops to resolve
    return spark.createDataFrame(
        [("v", f"b{i}", "v", f"b{i + 1}") for i in range(4)] + [("v", "b4", None, None)],
        "volume string, bucket string, source_volume string, source_bucket string",
    )


@pytest.mark.parametrize(
    "fn, make_input, small, large",
    [
        (lambda p, cap: dedup.dedup_clusters(p, max_iters=cap), _chain_pairs, 1, 20),
        (lambda p, cap: dedup.connected_dedup_groups(p, max_iters=cap), _chain_pairs, 1, 20),
        (lambda b, cap: listing.resolve_bucket_links(b, max_depth=cap), _chain_links, 2, 16),
    ],
    ids=["dedup_clusters", "connected_dedup_groups", "resolve_bucket_links"],
)
def test_repeat_calls_in_one_session_serve_the_same_rows(
    spark, fn, make_input, small, large
):
    """A second in-session call of a loop operator over the same input,
    with the same or a different iteration cap, leaves the first
    call's frame actionable with its own rows. The small cap stops
    each loop short of convergence, so the two caps' rows differ."""
    inp = make_input(spark)
    firsts, rows = {}, {}
    for cap in (small, large):
        firsts[cap] = fn(inp, cap)
        second = fn(inp, cap)
        rows[cap] = sorted(second.collect())
        assert sorted(firsts[cap].collect()) == rows[cap], cap
    assert rows[small] != rows[large]
    # the small-cap frame still reads its own rows after the large-cap
    # builds
    assert sorted(firsts[small].collect()) == rows[small]
