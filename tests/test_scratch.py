"""Scratch-cache registry laws (ADVICE r5): bounded generations per
slot, steady-state reuse for identical plans, release on plan change."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ozone_spark import scratch


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


def test_keep_result_memoizes_on_input_plan(spark):
    calls = []

    def build(n):
        def _b():
            calls.append(n)
            return _agg(spark, n).localCheckpoint()
        return _b

    r1 = scratch.keep_result("t_res", spark.range(100), build(100))
    r2 = scratch.keep_result("t_res", spark.range(100), build(100))
    assert r1 is r2 and calls == [100]  # same input plan: builder skipped
    r3 = scratch.keep_result("t_res", spark.range(200), build(200))
    assert r3 is not r1 and calls == [100, 200]  # input changed: rebuilt


def test_keep_result_keys_on_params(spark):
    """VERDICT r13 what's-wrong #2: a second in-session call with the
    SAME input but different builder parameters must rebuild — the memo
    key folds the params tuple in."""
    calls = []

    def build(p):
        def _b():
            calls.append(p)
            return _agg(spark, 100).localCheckpoint()
        return _b

    a = scratch.keep_result(
        "t_res_p", spark.range(100), build(8), params=("max_iters", 8)
    )
    b = scratch.keep_result(
        "t_res_p", spark.range(100), build(16), params=("max_iters", 16)
    )
    assert b is not a and calls == [8, 16]  # changed param: rebuilt
    c = scratch.keep_result(
        "t_res_p", spark.range(100), build(8), params=("max_iters", 8)
    )
    assert c is a and calls == [8, 16]  # same (input, params): memo hit


def test_loop_operators_rebuild_on_changed_params(spark):
    """The registered loop operators fold their depth/iteration caps
    into the memo key (library-level landmine from VERDICT r13 #2)."""
    from hadoop_ozone_spark.datapipe import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    ).localCheckpoint()
    a = dedup.connected_dedup_groups(pairs, max_iters=4)
    b = dedup.connected_dedup_groups(pairs, max_iters=8)
    assert a is not b  # different max_iters: not the same memo entry
    c = dedup.connected_dedup_groups(pairs, max_iters=4)
    assert c is a  # same (input, params): memo hit


def test_no_memo_env_disables_keep_result(spark, monkeypatch):
    """SPARK_GRAFT_NO_MEMO=1 (the bench's timed-run mode, VERDICT r13
    #1): every call rebuilds — no read, no store."""
    calls = []

    def _b():
        calls.append(1)
        return _agg(spark, 100).localCheckpoint()

    monkeypatch.setenv("SPARK_GRAFT_NO_MEMO", "1")
    scratch.keep_result("t_nomemo", spark.range(100), _b)
    scratch.keep_result("t_nomemo", spark.range(100), _b)
    assert len(calls) == 2  # no memo hits under the flag
    monkeypatch.delenv("SPARK_GRAFT_NO_MEMO")
    r3 = scratch.keep_result("t_nomemo", spark.range(100), _b)
    r4 = scratch.keep_result("t_nomemo", spark.range(100), _b)
    assert len(calls) == 3 and r3 is r4  # memo back on
    # only an explicit truthy value switches the memo off
    for off in ("0", ""):
        monkeypatch.setenv("SPARK_GRAFT_NO_MEMO", off)
        assert scratch.keep_result("t_nomemo", spark.range(100), _b) is r3
    assert len(calls) == 3


def test_invalidate_drops_session_memos(spark):
    """The staleness hook (VERDICT r13 what's-wrong #4): a caller that
    rewrites files under a memoized result's path invalidates, and the
    next invocation rebuilds against the new data."""
    import os
    import tempfile

    calls = []
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "plane")
        spark.range(5).write.mode("overwrite").parquet(path)

        def _b():
            calls.append(1)
            return spark.read.parquet(path).agg(F.sum("id")).localCheckpoint()

        key = spark.read.parquet(path)
        r1 = scratch.keep_result("t_inval", key, _b)
        assert r1.collect()[0][0] == 10 and calls == [1]
        # rewrite the files under the same path: the plan is unchanged,
        # so without invalidation the memo would serve stale rows
        spark.range(7).write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        scratch.invalidate(spark)
        key2 = spark.read.parquet(path)
        r2 = scratch.keep_result("t_inval", key2, _b)
        assert len(calls) == 2  # rebuilt
        assert r2.collect()[0][0] == 21  # new data served


def test_keep_ckpt_replacement_drops_result_memos(spark):
    """ADVICE r13 (high/medium): a keep_ckpt generation replacement
    destroys checkpoint blocks a memoized result may reference — the
    registry drops the session's result memos instead of serving a
    frame over destroyed blocks; the caller transparently rebuilds."""
    calls = []
    scratch.fresh("t_ck_dep")

    def _b():
        calls.append(1)
        inner = scratch.keep_ckpt("t_ck_dep", _agg(spark, 100))
        return inner.withColumn("y", F.col("count") + 1)

    r1 = scratch.keep_result("t_ck_res", spark.range(100), _b)
    r1.count()
    assert calls == [1]
    # another invocation of the same inner operator with a DIFFERENT
    # input replaces the checkpoint generation...
    scratch.fresh("t_ck_dep")
    scratch.keep_ckpt("t_ck_dep", _agg(spark, 200))
    # ...so the memo entry must be gone: the next call rebuilds
    r2 = scratch.keep_result("t_ck_res", spark.range(100), _b)
    assert len(calls) == 2 and r2 is not r1
    r2.count()  # and the rebuilt frame is actionable


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
