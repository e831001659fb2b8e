"""ReplicationManager action-planner laws on synthetic frames
(ReplicationManager.java:692-805 under-replication with rack-aware
targets, :807-860 placement-preserving over-replication deletes), plus
the rack-aware chooser (SCMContainerPlacementRackAware)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_ozone_spark.operators import scm


def _datanodes(spark, rows):
    return spark.createDataFrame(
        rows,
        "datanode_id long, hostname string, rack string, node_state string, "
        "op_state string, capacity_bytes long",
    )


def _containers(spark, rows):
    return spark.createDataFrame(
        rows,
        "container_id long, state string, replication_factor int, "
        "used_bytes long, pipeline_id long",
    )


def _replicas(spark, rows):
    return spark.createDataFrame(rows, "container_id long, datanode_id long")


def _actions(spark, containers, replicas, datanodes):
    return scm.replication_actions(
        _containers(spark, containers),
        _replicas(spark, replicas),
        _datanodes(spark, datanodes),
    ).collect()


DN_3RACKS = [
    # rack r0: nodes 1,2 — rack r1: 3,4 — rack r2: 5,6; node 6 bigger
    (1, "n1", "r0", "HEALTHY", "IN_SERVICE", 100),
    (2, "n2", "r0", "HEALTHY", "IN_SERVICE", 100),
    (3, "n3", "r1", "HEALTHY", "IN_SERVICE", 100),
    (4, "n4", "r1", "HEALTHY", "IN_SERVICE", 100),
    (5, "n5", "r2", "HEALTHY", "IN_SERVICE", 100),
    (6, "n6", "r2", "HEALTHY", "IN_SERVICE", 200),
]


def test_under_replicated_prefers_uncovered_rack(spark):
    # rf=3, replicas on racks r0,r1 → 1 ADD; r2 is uncovered, so an r2
    # node must win even though covered-rack nodes have equal free space
    rows = _actions(
        spark,
        [(10, "CLOSED", 3, 10, 0)],
        [(10, 1), (10, 3)],
        DN_3RACKS,
    )
    assert len(rows) == 1
    a = rows[0]
    assert a.action == "ADD_REPLICA"
    assert a.rack == "r2"
    # free-space ordering inside the uncovered rack: node 6 (free 200)
    # beats node 5 (free 100)
    assert a.datanode_id == 6


def test_under_replicated_free_space_then_id_tiebreak(spark):
    # both candidate racks uncovered and equal free space → lowest id
    dns = [
        (1, "n1", "r0", "HEALTHY", "IN_SERVICE", 100),
        (5, "n5", "r2", "HEALTHY", "IN_SERVICE", 100),
        (6, "n6", "r1", "HEALTHY", "IN_SERVICE", 100),
    ]
    rows = _actions(spark, [(10, "CLOSED", 2, 10, 0)], [(10, 1)], dns)
    assert [r.datanode_id for r in rows] == [5]


def test_under_replicated_excludes_holders_and_non_in_service(spark):
    # candidates must skip nodes already holding a replica and nodes
    # that are not HEALTHY+IN_SERVICE (ReplicationManager.java:757-763)
    dns = [
        (1, "n1", "r0", "HEALTHY", "IN_SERVICE", 100),
        (2, "n2", "r1", "HEALTHY", "DECOMMISSIONING", 100),
        (3, "n3", "r1", "STALE", "IN_SERVICE", 100),
        (4, "n4", "r1", "HEALTHY", "IN_SERVICE", 100),
    ]
    rows = _actions(spark, [(10, "CLOSED", 2, 10, 0)], [(10, 1)], dns)
    assert [r.datanode_id for r in rows] == [4]


def test_no_healthy_source_marker(spark):
    # all replicas on STALE/DEAD nodes → cannot re-replicate (:790)
    dns = [
        (1, "n1", "r0", "STALE", "IN_SERVICE", 100),
        (2, "n2", "r1", "DEAD", "IN_SERVICE", 100),
        (3, "n3", "r2", "HEALTHY", "IN_SERVICE", 100),
    ]
    rows = _actions(spark, [(10, "CLOSED", 3, 10, 0)], [(10, 1), (10, 2)], dns)
    assert len(rows) == 1
    assert rows[0].action == "NO_HEALTHY_SOURCE"
    assert rows[0].datanode_id is None


def test_missing_marker(spark):
    rows = _actions(spark, [(10, "CLOSED", 3, 10, 0)], [], DN_3RACKS)
    assert [(r.action, r.datanode_id) for r in rows] == [("MISSING", None)]


def test_deleted_containers_ignored(spark):
    rows = _actions(spark, [(10, "DELETED", 3, 10, 0)], [], DN_3RACKS)
    assert rows == []


def test_over_replicated_deletes_rack_duplicates_first(spark):
    # rf=3, 5 replicas: r0 {1,2}, r1 {3,4}, r2 {5} → excess 2; the
    # rack-duplicate replicas (2 on r0, 4 on r1) go first, highest
    # datanode first — rack coverage never drops
    rows = _actions(
        spark,
        [(10, "CLOSED", 3, 10, 0)],
        [(10, 1), (10, 2), (10, 3), (10, 4), (10, 5)],
        DN_3RACKS,
    )
    assert all(r.action == "DELETE_REPLICA" for r in rows)
    assert sorted(r.datanode_id for r in rows) == [2, 4]


def test_over_replicated_singletons_deletable_down_to_expected(spark):
    # rf=1 on 3 racks (singletons only): expected = min(1, 3) = 1, so 2
    # singletons may go, highest datanode_id first
    rows = _actions(
        spark,
        [(10, "CLOSED", 1, 10, 0)],
        [(10, 1), (10, 3), (10, 5)],
        DN_3RACKS,
    )
    assert sorted(r.datanode_id for r in rows) == [3, 5]


def test_over_replicated_blocked_when_placement_would_break(spark):
    # rf=3, 4 eligible singletons on 3 racks is impossible — instead:
    # 4 replicas but one on a DECOMMISSIONING node (ineligible, :843-847)
    # leaves 3 eligible singletons on 3 racks; expected = min(3,3) = 3 →
    # no deletion can keep placement satisfied → zero actions (the
    # reference logs "cannot be removed without violating placement")
    dns = [
        (1, "n1", "r0", "HEALTHY", "IN_SERVICE", 100),
        (3, "n3", "r1", "HEALTHY", "IN_SERVICE", 100),
        (5, "n5", "r2", "HEALTHY", "IN_SERVICE", 100),
        (7, "n7", "r2", "HEALTHY", "DECOMMISSIONING", 100),
    ]
    rows = _actions(
        spark,
        [(10, "CLOSED", 3, 10, 0)],
        [(10, 1), (10, 3), (10, 5), (10, 7)],
        dns,
    )
    assert rows == []


def test_add_count_matches_deficit(spark):
    # rf=3 with a single replica → exactly 2 ADDs on 2 distinct racks
    rows = _actions(spark, [(10, "CLOSED", 3, 10, 0)], [(10, 1)], DN_3RACKS)
    assert len(rows) == 2
    assert {r.rack for r in rows} == {"r1", "r2"}


def test_placement_probe_ranks_uncovered_racks_first(spark):
    probe = scm.placement_probe(
        _containers(spark, [(10, "CLOSED", 3, 10, 0)]),
        _replicas(spark, [(10, 1)]),
        _datanodes(spark, DN_3RACKS),
        limit=10,
    ).collect()
    assert [r.rank for r in probe] == list(range(1, len(probe) + 1))
    # covered-rack candidates (r0: node 2) rank after all uncovered
    covered_ranks = [r.rank for r in probe if r.rack_covered]
    uncovered_ranks = [r.rank for r in probe if not r.rack_covered]
    assert max(uncovered_ranks) < min(covered_ranks)
    # first pick: uncovered rack with most free space → node 6
    assert probe[0].datanode_id == 6


def test_datanode_usage_topk_ordering(spark):
    dns = _datanodes(
        spark,
        [
            (1, "n1", "r0", "HEALTHY", "IN_SERVICE", 100),
            (2, "n2", "r0", "HEALTHY", "IN_SERVICE", 100),
            (3, "n3", "r0", "STALE", "IN_SERVICE", 100),
        ],
    )
    cts = _containers(spark, [(10, "CLOSED", 3, 60, 0), (20, "CLOSED", 3, 30, 0)])
    reps = _replicas(spark, [(10, 1), (20, 2)])
    rows = scm.datanode_usage(reps, cts, dns, count=10, most_used=True).collect()
    # STALE node excluded from the usage scope
    assert [r.datanode_id for r in rows] == [1, 2]
    assert rows[0].used_bytes == 60 and rows[0].remaining_bytes == 40
    assert rows[0].percent_used == 0.6


# --- close-command plane (close_actions) ----------------------------------

def _cdetails(spark, rows):
    return spark.createDataFrame(
        rows,
        "container_id long, state string, replication_factor int, "
        "sequence_id long",
    )


def _rdetails(spark, rows):
    return spark.createDataFrame(
        rows,
        "container_id long, datanode_id long, replica_state string, "
        "sequence_id long",
    )


def _close(spark, containers, replicas):
    return scm.close_actions(
        _cdetails(spark, containers), _rdetails(spark, replicas)
    ).collect()


def test_closing_container_resends_close_to_all_replicas(spark):
    rows = _close(
        spark,
        [(10, "CLOSING", 3, 7)],
        [(10, 1, "OPEN", 7), (10, 2, "CLOSING", 7)],
    )
    assert [(r.action, r.datanode_id) for r in rows] == [
        ("CLOSE", 1), ("CLOSE", 2)
    ]


def test_quasi_closed_force_close_targets_max_bcsid_under_quorum(spark):
    # 3 quasi-closed replicas (quorum: 3 > 3/2) at BCSIDs 5,7,7 →
    # force-close exactly the two at the max BCSID 7
    rows = _close(
        spark,
        [(10, "QUASI_CLOSED", 3, 7)],
        [
            (10, 1, "QUASI_CLOSED", 5),
            (10, 2, "QUASI_CLOSED", 7),
            (10, 3, "QUASI_CLOSED", 7),
        ],
    )
    assert [(r.action, r.datanode_id) for r in rows] == [
        ("FORCE_CLOSE", 2), ("FORCE_CLOSE", 3)
    ]


def test_quasi_closed_without_quorum_goes_unstable(spark):
    # only 1 quasi-closed replica (1 > 1.5 false) → no force-close;
    # exactly-replicated container falls to the unstable branch:
    # the OPEN replica gets CLOSE, the UNHEALTHY one is the single
    # per-iteration delete
    rows = _close(
        spark,
        [(10, "QUASI_CLOSED", 3, 7)],
        [
            (10, 1, "QUASI_CLOSED", 7),
            (10, 2, "OPEN", 7),
            (10, 3, "UNHEALTHY", 7),
        ],
    )
    assert [(r.action, r.datanode_id) for r in rows] == [
        ("CLOSE", 2), ("DELETE_UNHEALTHY", 3)
    ]


def test_unstable_closed_container_mixed_replicas(spark):
    # container CLOSED BCSID 9: OPEN replica → CLOSE; QUASI_CLOSED at
    # the container BCSID → FORCE_CLOSE; two UNHEALTHY → only the
    # lowest-datanode one deleted this iteration (:973-975 findFirst,
    # determinized)
    rows = _close(
        spark,
        [(10, "CLOSED", 4, 9)],
        [
            (10, 1, "OPEN", 9),
            (10, 2, "QUASI_CLOSED", 9),
            (10, 3, "UNHEALTHY", 9),
            (10, 4, "UNHEALTHY", 9),
        ],
    )
    assert [(r.action, r.datanode_id) for r in rows] == [
        ("CLOSE", 1), ("DELETE_UNHEALTHY", 3), ("FORCE_CLOSE", 2)
    ]


def test_unstable_skips_under_and_over_replicated(spark):
    # under-replicated CLOSED container (2 of 3): the replication
    # branch owns it — the unstable branch must not emit
    rows = _close(
        spark,
        [(10, "CLOSED", 3, 9)],
        [(10, 1, "OPEN", 9), (10, 2, "UNHEALTHY", 9)],
    )
    assert rows == []


def test_healthy_stable_container_no_actions(spark):
    rows = _close(
        spark,
        [(10, "CLOSED", 2, 9)],
        [(10, 1, "CLOSED", 9), (10, 2, "CLOSED", 9)],
    )
    assert rows == []


def test_delete_law_invariants_random_sweep(spark):
    """The over-replication closed form is a DETERMINIZATION of the
    reference's greedy walk (whose own victim order is hashCode-
    arbitrary, ReplicationManager.java:828-831). What must hold for
    EVERY configuration is the walk's contract, checked here over 200
    seeded-random clusters in one planner pass:

      (a) never delete more than the excess;
      (b) rack coverage of surviving eligible replicas never drops
          below min(rf, eligible racks before, total racks...) — i.e.
          deleting preserves the placement the validator would accept;
      (c) maximality: if fewer than excess were deleted, deleting ANY
          additional eligible replica would reduce rack coverage below
          the expected min(rf, total_racks) — the reference's 'cannot
          be removed without violating placement' terminal state.
    """
    import random

    rng = random.Random(42)
    racks = [f"r{i}" for i in range(4)]
    datanode_rows = [
        (d, f"n{d}", racks[d % 4], "HEALTHY", "IN_SERVICE", 100)
        for d in range(1, 41)
    ]
    rack_of = {d: racks[d % 4] for d in range(1, 41)}
    total_racks = len({r for r in rack_of.values()})

    containers, replicas, spec = [], [], {}
    for cid in range(1, 201):
        rf = rng.choice([1, 2, 3, 3, 4])
        n_rep = rng.randint(rf + 1, min(rf + 4, 12))  # always over
        nodes = rng.sample(range(1, 41), n_rep)
        containers.append((cid, "CLOSED", rf, 10, 0))
        replicas.extend((cid, d) for d in nodes)
        spec[cid] = (rf, nodes)

    rows = _actions(spark, containers, replicas, datanode_rows)
    deleted = {}
    for r in rows:
        if r.action == "DELETE_REPLICA":
            deleted.setdefault(r.container_id, set()).add(r.datanode_id)
        else:
            # a strictly-over-replicated healthy cluster emits only deletes
            assert r.action == "DELETE_REPLICA", r

    for cid, (rf, nodes) in spec.items():
        excess = len(nodes) - rf
        got = deleted.get(cid, set())
        assert got <= set(nodes)
        assert len(got) <= excess  # (a)
        survivors = [d for d in nodes if d not in got]
        cov_before = len({rack_of[d] for d in nodes})
        cov_after = len({rack_of[d] for d in survivors})
        expected = min(rf, total_racks)
        assert cov_after >= min(expected, cov_before)  # (b)
        if len(got) < excess:  # (c) maximality
            for d in survivors:
                rest = [x for x in survivors if x != d]
                assert len({rack_of[x] for x in rest}) < expected, (
                    f"container {cid}: {d} was deletable but not deleted"
                )


# --- delete plane + pipeline scrubber --------------------------------------

def test_delete_actions_branches(spark):
    containers = _cdetails(
        spark,
        [
            (10, "DELETING", 3, 0),   # no replicas → CLEANUP
            (20, "DELETING", 3, 0),   # replicas left → resend deletes
            (30, "CLOSED", 3, 0),     # empty (no keys, all CLOSED) → delete
            (40, "CLOSED", 3, 0),     # NOT empty (live key) → untouched
            (50, "CLOSED", 3, 0),     # non-CLOSED replica → not empty
        ],
    )
    replicas = _rdetails(
        spark,
        [
            (20, 1, "CLOSED", 0), (20, 2, "CLOSED", 0),
            (30, 3, "CLOSED", 0), (30, 4, "CLOSED", 0),
            (40, 5, "CLOSED", 0),
            (50, 6, "UNHEALTHY", 0),
        ],
    )
    keys = spark.createDataFrame([(40,)], "container_id long")
    rows = scm.delete_actions(containers, replicas, keys).collect()
    got = [(r.container_id, r.action, r.datanode_id) for r in rows]
    assert got == [
        (10, "CLEANUP", None),
        (20, "DELETE_REPLICA", 1), (20, "DELETE_REPLICA", 2),
        (30, "CLEANUP", None),
        (30, "DELETE_EMPTY", 3), (30, "DELETE_EMPTY", 4),
    ]


def test_pipeline_scrub_laws(spark):
    details = spark.createDataFrame(
        [
            (1, "ALLOCATED", 3, 1000),   # stale → CLOSE
            (2, "ALLOCATED", 3, 9000),   # fresh → untouched
            (3, "CLOSED", 3, 1000),      # → REMOVE
            (4, "OPEN", 3, 1000),        # untouched
            (5, "CLOSED", 1, 1000),      # factor 1 → out of scope
        ],
        "pipeline_id long, state string, replication_factor int, created_ms long",
    )
    rows = scm.pipeline_scrub(details, now_ms=10_000, allocated_timeout_ms=5_000)
    got = {(r.pipeline_id, r.action) for r in rows.collect()}
    assert got == {(1, "CLOSE"), (3, "REMOVE")}


def test_datanode_usage_orders_by_remaining_ratio_not_bytes(spark):
    # node 1: 100 GB capacity, 50 used → remaining ratio 0.5
    # node 2: 10 GB capacity, 9 used → remaining ratio 0.1 (most used
    # by the reference's compareByRemainingRatio law, despite fewer
    # absolute bytes used)
    dns = _datanodes(
        spark,
        [
            (1, "n1", "r0", "HEALTHY", "IN_SERVICE", 100),
            (2, "n2", "r0", "HEALTHY", "IN_SERVICE", 10),
        ],
    )
    cts = _containers(spark, [(10, "CLOSED", 3, 50, 0), (20, "CLOSED", 3, 9, 0)])
    reps = _replicas(spark, [(10, 1), (20, 2)])
    most = scm.datanode_usage(reps, cts, dns, count=2, most_used=True).collect()
    assert [r.datanode_id for r in most] == [2, 1]
    least = scm.datanode_usage(reps, cts, dns, count=2, most_used=False).collect()
    assert [r.datanode_id for r in least] == [1, 2]


def test_add_law_invariants_random_sweep(spark):
    """Target-choice contract over 200 seeded-random under-replicated
    clusters, one planner pass:

      (a) exactly min(deficit, |eligible candidates|) ADDs;
      (b) never onto a current holder or a non-HEALTHY/IN_SERVICE node;
      (c) rack-aware greedy: the chosen set covers
          min(deficit, |uncovered racks with candidates|) NEW racks —
          an uncovered rack is never passed over for a covered one;
      (d) within the uncovered-rack picks, each choice has the maximal
          free space among that rack-class's remaining candidates
          (verified via global free-space ordering of the pick list).
    """
    import random

    rng = random.Random(7)
    racks = [f"r{i}" for i in range(4)]
    # mixed health/op states so exclusion rules (b) have work
    dn_rows, eligible_nodes = [], {}
    for d in range(1, 41):
        node_state = "STALE" if d % 11 == 0 else "HEALTHY"
        op_state = "DECOMMISSIONING" if d % 13 == 0 else "IN_SERVICE"
        dn_rows.append((d, f"n{d}", racks[d % 4], node_state, op_state, 50 + d))
        if node_state == "HEALTHY" and op_state == "IN_SERVICE":
            eligible_nodes[d] = racks[d % 4]

    containers, replicas, spec = [], [], {}
    for cid in range(1, 201):
        rf = rng.choice([2, 3, 3, 4])
        n_rep = rng.randint(1, rf - 1)  # always under, never missing
        holders = rng.sample(range(1, 41), n_rep)
        containers.append((cid, "CLOSED", rf, 10, 0))
        replicas.extend((cid, d) for d in holders)
        spec[cid] = (rf, holders)

    rows = _actions(spark, containers, replicas, dn_rows)
    rack_of = {d: racks[d % 4] for d in range(1, 41)}
    adds, markers = {}, {}
    for r in rows:
        if r.action == "ADD_REPLICA":
            adds.setdefault(r.container_id, []).append(r.datanode_id)
        else:
            markers.setdefault(r.container_id, r.action)

    for cid, (rf, holders) in spec.items():
        healthy_sources = [
            d for d in holders
            if d % 11 != 0  # node_state HEALTHY (source law ignores op)
        ]
        if not healthy_sources:
            assert markers.get(cid) == "NO_HEALTHY_SOURCE"
            assert cid not in adds
            continue
        cands = {d: rk for d, rk in eligible_nodes.items() if d not in holders}
        deficit = rf - len(holders)
        got = adds.get(cid, [])
        assert len(got) == min(deficit, len(cands))  # (a)
        for d in got:  # (b)
            assert d in cands
        covered = {rack_of[d] for d in holders}
        uncovered_with_cands = {rk for rk in cands.values() if rk not in covered}
        new_racks = {cands[d] for d in got} - covered
        assert len(new_racks) == min(len(got), len(uncovered_with_cands))  # (c)


# --- edge cases of the one-pass planner, each pinned twice: to the rows
# the join/window planner produced and to the DuckDB twin (RM1_SQL's CTE
# stack run over the same synthetic tables) ---------------------------

def _twin(containers, replicas, datanodes):
    import duckdb

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.plans import scm_queries as sq

    con = duckdb.connect()
    for name, cols, rows in (
        (
            "datanodes",
            "datanode_id BIGINT, hostname VARCHAR, rack VARCHAR, "
            "node_state VARCHAR, op_state VARCHAR, capacity_bytes BIGINT",
            datanodes,
        ),
        (
            "containers",
            "container_id BIGINT, state VARCHAR, replication_factor INTEGER, "
            "used_bytes BIGINT, pipeline_id BIGINT",
            containers,
        ),
        ("rm_replicas", "container_id BIGINT, datanode_id BIGINT", replicas),
    ):
        con.execute(f"CREATE TABLE {name} ({cols})")
        if rows:
            marks = ", ".join("?" * len(rows[0]))
            con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
    sql = model.with_ctes(*sq._RM_STACK, *sq._RM_DELETE_STACK, body=sq._RM1_BODY)
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _pinned(spark, containers, replicas, datanodes, expected):
    got = [tuple(r) for r in _actions(spark, containers, replicas, datanodes)]
    assert got == expected
    assert got == _twin(containers, replicas, datanodes)


def _add(cid, node, rack, need, have, rf):
    return (cid, "ADD_REPLICA", node, rack,
            f"add {need} replica(s): have {have} of {rf}")


def _delete(cid, node, rack, excess, have, rf):
    return (cid, "DELETE_REPLICA", node, rack,
            f"delete {excess} excess replica(s): have {have} of {rf}")


def _dn(d, rack, capacity=100, node_state="HEALTHY", op_state="IN_SERVICE"):
    return (d, f"n{d}", rack, node_state, op_state, capacity)


def _closed(cid, rf):
    return (cid, "CLOSED", rf, 0, 0)  # used 0: free space = capacity


def test_null_rack_on_replica_and_candidate(spark):
    # A NULL rack never covers (join `=`), yet NULL-rack nodes share one
    # rack-rank group (window partition) and are no eligible rack
    # (collect_set). Container 10 (holder: node 2, NULL rack): node 3 is
    # not covered, and ranks 1 in the NULL group once holder 2 is out,
    # so it ties with the r0/r1 heads and wins on free space over 4.
    # Container 20: node 3 is the NULL group's duplicate; the only
    # eligible rack is r0, so with rf 1 no singleton may go.
    dns = [
        _dn(1, "r0", 100), _dn(2, None, 100), _dn(3, None, 90),
        _dn(4, "r1", 80), _dn(5, "r0", 70),
    ]
    _pinned(
        spark,
        [_closed(10, 3), _closed(20, 1)],
        [(10, 2), (20, 1), (20, 2), (20, 3)],
        dns,
        [
            _add(10, 1, "r0", 2, 1, 3),
            _add(10, 3, None, 2, 1, 3),
            _delete(20, 3, None, 2, 3, 1),
        ],
    )


def test_duplicate_replica_rows(spark):
    # a (container, datanode) pair reported twice counts twice (count),
    # and its second row is a rack duplicate (row_number): 10 is exactly
    # replicated, 20 deletes the duplicate, 30 has 2 of 4
    _pinned(
        spark,
        [_closed(10, 3), _closed(20, 2), _closed(30, 4)],
        [
            (10, 1), (10, 1), (10, 3),
            (20, 1), (20, 1), (20, 3),
            (30, 5), (30, 5),
        ],
        DN_3RACKS,
        [
            _delete(20, 1, "r0", 1, 3, 2),
            _add(30, 1, "r0", 2, 2, 4),
            _add(30, 3, "r1", 2, 2, 4),
        ],
    )


def test_equal_free_space_within_and_across_racks(spark):
    # all free space equal: rack rank then id decide, and a covered
    # rack's node ranks by its post-exclusion rank (node 6 behind
    # holder 5 is rank 1 of r2 for container 30)
    dns = [_dn(d, f"r{(d - 1) // 2}") for d in range(1, 7)]
    _pinned(
        spark,
        [_closed(10, 3), _closed(20, 3), _closed(30, 5)],
        [(10, 1), (20, 2), (20, 4), (30, 5)],
        dns,
        [
            _add(10, 3, "r1", 2, 1, 3),
            _add(10, 5, "r2", 2, 1, 3),
            _add(20, 5, "r2", 1, 2, 3),
            _add(30, 1, "r0", 4, 1, 5),
            _add(30, 2, "r0", 4, 1, 5),
            _add(30, 3, "r1", 4, 1, 5),
            _add(30, 4, "r1", 4, 1, 5),
        ],
    )


def test_replication_factor_above_rack_count(spark):
    # rf 5 on 3 racks: the uncovered rack's second node (5) still ranks
    # before any covered rack's node; rf 4 over-replicated: expected
    # coverage is min(4, 3) = 3, so only rack duplicates go
    _pinned(
        spark,
        [_closed(10, 5), _closed(20, 4)],
        [(10, 1), (10, 3)] + [(20, d) for d in range(1, 7)],
        DN_3RACKS,
        [
            _add(10, 2, "r0", 3, 2, 5),
            _add(10, 5, "r2", 3, 2, 5),
            _add(10, 6, "r2", 3, 2, 5),
            _delete(20, 4, "r1", 2, 6, 4),
            _delete(20, 6, "r2", 2, 6, 4),
        ],
    )


def test_over_replicated_surplus_not_in_service(spark):
    # 10: the surplus sits on DECOMMISSIONING/IN_MAINTENANCE nodes and
    # the 3 IN_SERVICE singletons are all needed → no row; 20 (rf 2)
    # may drop one singleton; 30: a NULL op_state is not IN_SERVICE
    dns = [
        _dn(1, "r0"), _dn(2, "r1"), _dn(3, "r2"),
        _dn(4, "r0", op_state="DECOMMISSIONING"),
        _dn(5, "r1", op_state="IN_MAINTENANCE"),
        _dn(6, "r2", op_state=None),
    ]
    _pinned(
        spark,
        [_closed(10, 3), _closed(20, 2), _closed(30, 1)],
        [(10, d) for d in range(1, 6)]
        + [(20, d) for d in range(1, 6)]
        + [(30, 6), (30, 1)],
        dns,
        [_delete(20, 3, "r2", 3, 5, 2)],
    )


def test_holder_exclusion_empties_candidates(spark):
    # 10: both HEALTHY+IN_SERVICE nodes already hold it → no ADD row at
    # all (not a marker); 20 gets the one candidate left
    dns = [
        _dn(1, "r0"), _dn(2, "r1"), _dn(3, "r2", node_state="STALE"),
    ]
    _pinned(
        spark,
        [_closed(10, 4), _closed(20, 3)],
        [(10, 1), (10, 2), (10, 3), (20, 1)],
        dns,
        [_add(20, 2, "r1", 2, 1, 3)],
    )


# 3 racks × 6 nodes; free space falls with the id, so each rack's head
# is its lowest id (r0: 1-6, r1: 7-12, r2: 13-18)
DN_WIDE = [_dn(d, f"r{(d - 1) // 6}", 1000 - d) for d in range(1, 19)]


def test_candidate_row_cut_at_max_rf_per_rack(spark):
    # more nodes per rack than max(rf): the broadcast candidate list
    # holds each rack's top max(rf) = 3 nodes, no more
    row = scm._rm_targets(
        _datanodes(spark, DN_WIDE).withColumn("free_bytes", F.col("capacity_bytes")),
        spark.createDataFrame([(2,), (3,), (1,)], "rf int"),
        _datanodes(spark, DN_WIDE),
    ).collect()
    assert len(row) == 1
    assert row[0].total_racks == 3
    assert sorted((c.rack, c.pre, c.id) for c in row[0].cands) == [
        (f"r{r}", k, 6 * r + k) for r in range(3) for k in (1, 2, 3)
    ]


def test_cut_candidates_match_unpruned_twin(spark):
    # the cut is exact: hand-checked containers, then 80 seeded ones
    # with holders drawn from the rack heads (where the post-exclusion
    # rank differs most from the pre-rank), against the twin's
    # unpruned ranking
    import random

    _pinned(
        spark,
        [_closed(c, 3) for c in (10, 20, 30, 50, 60)] + [_closed(40, 2)],
        [(10, 1), (10, 2), (20, 1), (20, 7), (30, 8), (30, 9), (60, 1), (60, 8)]
        + [(50, d) for d in (1, 2, 3, 7, 13)],
        DN_WIDE,
        [
            _add(10, 7, "r1", 1, 2, 3),
            _add(20, 13, "r2", 1, 2, 3),
            _add(30, 1, "r0", 1, 2, 3),
            (40, "MISSING", None, None, "no replicas found"),
            _delete(50, 2, "r0", 2, 5, 3),
            _delete(50, 3, "r0", 2, 5, 3),
            _add(60, 13, "r2", 1, 2, 3),
        ],
    )
    rng = random.Random(11)
    heads = [d for d in range(1, 19) if (d - 1) % 6 < 4]
    containers, replicas = [], []
    for cid in range(1, 81):
        rf = rng.choice([2, 3, 3])
        containers.append(_closed(cid, rf))
        replicas.extend((cid, d) for d in rng.sample(heads, rng.randint(0, 5)))
    got = [
        tuple(r) for r in _actions(spark, containers, replicas, DN_WIDE)
    ]
    assert got == _twin(containers, replicas, DN_WIDE)
    assert {a for _, a, *_ in got} >= {"ADD_REPLICA", "DELETE_REPLICA"}
