"""Bounded scratch-cache registry for per-query persisted intermediates.

Several operators persist a bounded intermediate frame that multiple
branches of ONE query tree consume (e.g. close_actions' replica⋈container
anchor). The persist must outlive the function return — the caller
materializes the lazy result — so an in-function unpersist is impossible,
but never unpersisting accumulates cached blocks across repeated
invocations with CHANGING inputs in one session (streaming per-batch
planning, endpoint reuse over evolving planes) (ADVICE r5).

The contract: each operator calls :func:`fresh` on entry (resets the
tag's slot cursor), then registers each persisted frame via :func:`keep`.
``keep`` compares the new frame against the frame the SAME slot held on
the previous invocation using Spark's own plan-equivalence test
(``analyzed().sameResult``) — the exact test CacheManager uses for cache
dedup:

- same plan (the bench/endpoint replay case) → the previous persisted
  frame is returned and its cache REUSED — repeated identical queries
  keep their steady-state cache hits;
- different plan (new micro-batch, different inputs) → the previous
  generation is unpersisted and replaced, so the cached-block footprint
  stays bounded at one live generation per slot.

Unpersisting only on plan CHANGE matters for a second reason: identical
plans share one CacheManager entry, so unpersisting an old same-plan
frame would silently drop the entry the new frame is using.

ASSUMPTION (same-plan ⇒ same-data): the same-plan cache hit presumes an
identical plan reads identical data. That holds for this repo's callers
— the memoized model planes (model._memoized) and deployment snapshots
are immutable for a given (session, sf_dir), and the streaming planners
re-plan from per-batch frames whose plans differ per batch. It does NOT
hold for arbitrary external sources: re-reading a path whose files were
rewritten between invocations under a byte-identical plan would serve
the stale cached rows. Operators over mutable external paths must not
route them through ``keep`` (or must call ``spark.catalog.refreshByPath``
first, which changes nothing here since the plan comparison would still
hit — simply don't ``keep`` such frames).

Slots are keyed per SparkSession (ADVICE r6): two sessions in one
process never reuse or unpersist each other's frames, and a restarted
session starts from empty slots instead of colliding with frames whose
JVM-side cache entries died with the old session. Within one session the
registry is shared across threads — the repo's operators are invoked
serially per session, matching the one-live-generation contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

try:
    from pyspark.sql.connect.session import SparkSession as _ConnectSession
except ImportError:  # Connect's client deps (grpc) are absent: no Connect session can exist
    _ConnectSession = None

# (session_key, tag) → slot list / cursor
_SLOTS: dict[tuple[str, str], list[DataFrame]] = {}
_CURSOR: dict[tuple[str, str], int] = {}
# keep_ckpt's parallel registry: slot holds (plan_frame, ckpt_frame)
_CKPT_SLOTS: dict[tuple[str, str], list[tuple[DataFrame, DataFrame]]] = {}
_CKPT_CURSOR: dict[tuple[str, str], int] = {}


def _session_key(df_or_spark) -> str:
    """The registry key of a frame's (or a session's) SparkSession: a
    classic session's application id, a Spark Connect session's server
    session id (Connect has no sparkContext). A stopped classic session
    raises here instead of being keyed as a new one."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    if _ConnectSession is not None and isinstance(spark, _ConnectSession):
        return spark.session_id
    return spark.sparkContext.applicationId


def fresh(tag: str, spark=None) -> None:
    """Reset ``tag``'s slot cursor at operator entry. Slots beyond the
    count the previous invocation used are released lazily by the next
    :func:`keep` walk; the generation count per slot stays at one.

    Resets the cursor for every session when ``spark`` is omitted (the
    common case: the operator resets before it has a frame in hand)."""
    if spark is not None:
        _CURSOR[(_session_key(spark), tag)] = 0
        _CKPT_CURSOR[(_session_key(spark), tag)] = 0
        return
    for key in list(_CURSOR):
        if key[1] == tag:
            _CURSOR[key] = 0
    for key in list(_CKPT_CURSOR):
        if key[1] == tag:
            _CKPT_CURSOR[key] = 0


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return bool(
            a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()
            )
        )
    except Exception:
        return False


def keep(tag: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` in the tag's next slot, reusing the previous
    invocation's cached frame when the plan is semantically identical.

    See the module docstring for the same-plan-implies-same-data
    assumption this reuse relies on."""
    key = (_session_key(df), tag)
    i = _CURSOR.get(key, 0)
    _CURSOR[key] = i + 1
    slots = _SLOTS.setdefault(key, [])
    if i < len(slots):
        old = slots[i]
        if _same_plan(old, df):
            return old  # steady-state cache hit across invocations
        try:
            old.unpersist(False)
        except Exception:
            pass  # session gone / already unpersisted
        slots[i] = df.persist()
        return slots[i]
    df = df.persist()
    slots.append(df)
    return df


def keep_ckpt(tag: str, df: DataFrame) -> DataFrame:
    """:func:`keep`, but the slot's cached artifact is a
    ``localCheckpoint`` of ``df`` rather than a persist of its full
    plan: the returned frame's logical plan is a LEAF (scan of the
    checkpointed RDD), so downstream consumers re-plan in O(1) instead
    of re-optimizing the whole upstream tree on EVERY action.

    Why this exists (optimization r13, guide §7.3): persist caches
    DATA but leaves the logical plan intact — a bounded frame whose
    plan embeds a very large expression tree (the IVF-PQ encode
    ladder, the qsketch CASE ladder) makes every downstream action pay
    seconds of pure driver-side Catalyst time even though the scan
    itself is cached (measured on the former 64-sample media dHash
    ladder at sf0.1: 2.35s of executor job time vs 18.75s of
    inter-job driver gaps; the checkpoint leaf removes the gaps). Use
    for bounded intermediates with huge plans; plain :func:`keep` is
    right everywhere else — a checkpoint cannot be recomputed from
    lineage, so this also inherits the standard
    localCheckpoint durability caveat (on a cluster with executor
    churn, point the session at durable storage and swap in
    ``.checkpoint()``; the law is identical).

    Same slot/cursor/same-plan-reuse contract as :func:`keep` — the
    plan comparison runs on the PRE-checkpoint frames, so steady-state
    invocations reuse one checkpoint instead of re-materializing. A
    replaced generation's blocks are released, so a frame an earlier
    invocation returned over a different plan is no longer readable."""
    key = (_session_key(df), tag)
    i = _CKPT_CURSOR.get(key, 0)
    _CKPT_CURSOR[key] = i + 1
    slots = _CKPT_SLOTS.setdefault(key, [])
    if i < len(slots):
        old_plan, old_ckpt = slots[i]
        if _same_plan(old_plan, df):
            return old_ckpt  # steady-state: reuse the live checkpoint
        try:
            # Dataset.unpersist does not release a localCheckpoint's
            # blocks; the checkpointed RDD under the leaf does
            old_ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # session gone / already released / Spark Connect
        ck = df.localCheckpoint()
        slots[i] = (df, ck)
        return ck
    ck = df.localCheckpoint()
    slots.append((df, ck))
    return ck


# No engine caller: exists only for perfbench/run.py's WRAPPED list; ROADMAP item 6 deletes both.
def keep_result(tag, key_df, build, params=None):
    return build()
