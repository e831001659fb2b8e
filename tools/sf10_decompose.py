"""Decomposed DuckDB replays for the four sf10 oracle-capacity rows
(VERDICT r11 #3): ``bm1_balancer_moves`` / ``rm1_replication_actions``
/ ``rm2_placement_targets`` spill >78 GB through DuckDB's single
monolithic plan (the add_pairs / bm_pick pair blowups materialize under
one sort), and ``dp_cdc_chunks`` goes bad_alloc carrying the per-doc
token arrays of the whole corpus at once.

None of the four LAWS is super-linear in its output: rm1/rm2 partition
cleanly by container_id once the cluster-wide candidate frame is
computed; bm1 is a chain of linear stages whose only wide intermediate
(the per-container source pick) collapses before the target pairing;
cdc chunking is doc-local until the final shared-hash rollup. So the
twin is decomposed the way the ENGINE decomposes them — shared
aggregates materialized once, the pair-blowup stages replayed in
container/doc slices, a final fold over the materialized parquet — and
the result compared to the Spark side with the oracle gate's own
normalize/value-hash.

Usage: python tools/sf10_decompose.py [sf_dir] [--json OUT] [query ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(__file__))

from oracle_check import normalize, value_hash  # noqa: E402

from hadoop_ozone_spark import model  # noqa: E402
from hadoop_ozone_spark.plans import datapipe_queries as dq  # noqa: E402
from hadoop_ozone_spark.plans import scm_queries as sq  # noqa: E402
from hadoop_ozone_spark.session import get_spark  # noqa: E402

N_SLICES = 16


def _cte_name(cte: str) -> str:
    return cte.strip().split(" AS (", 1)[0].strip()


def _swap_ctes(stack, replacements: dict[str, str | None]) -> list[str]:
    """Return the CTE stack with named entries replaced (or dropped on
    None) — the law stays defined once, in the production module."""
    out = []
    for cte in stack:
        name = _cte_name(cte)
        if name in replacements:
            if replacements[name] is not None:
                out.append(replacements[name])
        else:
            out.append(cte)
    return out


def _sliced_containers(n: int, i: int) -> str:
    return model.CONTAINERS_CTE.replace(
        "FROM part", f"FROM part WHERE p_partkey % {n} = {i}"
    )


def _sliced_rm_replicas(n: int, i: int) -> str:
    return model.RM_REPLICAS_CTE.replace(
        "WHERE (l_partkey + l_suppkey) % 23 < l_partkey % 6",
        "WHERE (l_partkey + l_suppkey) % 23 < l_partkey % 6"
        f" AND l_partkey % {n} = {i}",
    )


def _sliced_container_replicas(n: int, i: int) -> str:
    return model.CONTAINER_REPLICAS_CTE.replace(
        "WHERE (l_partkey + l_suppkey) % 11 < 2",
        f"WHERE (l_partkey + l_suppkey) % 11 < 2 AND l_partkey % {n} = {i}",
    )


def _pinned_containers(expr: str) -> str:
    return model.CONTAINERS_CTE.replace(
        "FROM part", f"FROM part WHERE p_partkey = ({expr})"
    )


def _pinned_rm_replicas(expr: str) -> str:
    return model.RM_REPLICAS_CTE.replace(
        "WHERE (l_partkey + l_suppkey) % 23 < l_partkey % 6",
        "WHERE (l_partkey + l_suppkey) % 23 < l_partkey % 6"
        f" AND l_partkey = ({expr})",
    )


def _parquet_cte(name: str, path: str) -> str:
    return f"{name} AS (SELECT * FROM read_parquet('{path}'))"


def rm1_decomposed(con, tmp: str):
    """rm1: materialize the cluster-wide candidate frame (cand — one
    row per healthy node) once, then replay the per-container stack in
    container_id % N_SLICES slices: every remaining CTE (rm_counts,
    rm_scope, add_pairs, the ranked windows, the delete stack's elig)
    partitions by container_id, so the slice union IS the full result.
    rack_total stays global (datanodes are never sliced). The
    candidate frame additionally carries the operator's provable
    per-rack prune (see _materialize_cand) — without it a single
    container slice's add_pairs product spilled ~30 GB."""
    cand_pq = _materialize_cand(con, tmp, prune_per_rack=True)
    for i in range(N_SLICES):
        stack = _swap_ctes(
            sq._RM_STACK,
            {"node_used": None, "cand": _parquet_cte("cand", cand_pq)},
        )
        sql = model.with_ctes(
            model.DATANODES_CTE,
            _sliced_containers(N_SLICES, i),
            _sliced_rm_replicas(N_SLICES, i),
            *stack,
            *sq._RM_DELETE_STACK,
            body=sq._RM1_BODY,
        )
        slice_pq = os.path.join(tmp, f"rm1_slice_{i}.parquet")
        con.execute(f"COPY ({sql}) TO '{slice_pq}' (FORMAT PARQUET)")
    return con.execute(
        f"SELECT * FROM read_parquet('{tmp}/rm1_slice_*.parquet')"
        " ORDER BY container_id, action, COALESCE(datanode_id, -1)"
    ).fetchdf()


def _materialize_cand(con, tmp: str, prune_per_rack: bool = False) -> str:
    """Write the cluster-wide placement candidate frame (one row per
    healthy in-service node, with cluster-global free_bytes) once —
    the only CTE in the RM stack that must NOT be container-sliced.

    ``prune_per_rack`` applies the Spark operator's own
    value-identical candidate cut (operators/scm.py
    replication_actions, VERDICT r5 #2 proof): keep each rack's top
    max(replication_factor) nodes by (free_bytes DESC, datanode_id) —
    every row any container consumes at rank <= rf - cnt survives the
    prune, so the replay result is bit-identical while add_pairs
    shrinks from |under| x |nodes| to |under| x |racks| x rf (the
    unpruned twin spilled ~30 GB PER SLICE at sf10's 100k-node
    cluster). rm2's probe surface displays rank <= 10 > rf, so it
    keeps the unpruned frame."""
    cand_pq = os.path.join(
        tmp, "rm_cand_pruned.parquet" if prune_per_rack else "rm_cand.parquet"
    )
    if not os.path.exists(cand_pq):
        body = "SELECT * FROM cand"
        if prune_per_rack:
            body = """SELECT datanode_id, rack, free_bytes FROM (
  SELECT c.*, row_number() OVER (PARTITION BY rack
           ORDER BY free_bytes DESC, datanode_id) AS _rr,
         (SELECT max(replication_factor) FROM containers) AS _keep
  FROM cand c
) WHERE _rr <= _keep"""
        cand_sql = model.with_ctes(
            model.DATANODES_CTE,
            model.CONTAINERS_CTE,
            model.RM_REPLICAS_CTE,
            *[c for c in sq._RM_STACK if _cte_name(c) in ("node_used", "cand")],
            body=body,
        )
        con.execute(f"COPY ({cand_sql}) TO '{cand_pq}' (FORMAT PARQUET)")
    return cand_pq


def rm2_decomposed(con, tmp: str):
    """rm2: the surface is ONE container (the lowest under-replicated
    with a healthy source) — compute that id with a linear pass, then
    replay the placement stack pinned to it against the materialized
    candidate frame."""
    cand_pq = _materialize_cand(con, tmp)
    target_sql = model.with_ctes(
        model.DATANODES_CTE,
        model.CONTAINERS_CTE,
        model.RM_REPLICAS_CTE,
        *[
            c
            for c in sq._RM_STACK
            if _cte_name(c) in ("rep", "rm_counts", "rm_scope", "rm_under")
        ],
        body="SELECT min(container_id) AS cid FROM rm_under"
        " WHERE healthy_source_count > 0",
    )
    target = int(con.execute(target_sql).fetchone()[0])
    stack = _swap_ctes(
        sq._RM_STACK,
        {"node_used": None, "cand": _parquet_cte("cand", cand_pq)},
    )
    sql = model.with_ctes(
        model.DATANODES_CTE,
        _pinned_containers(str(target)),
        _pinned_rm_replicas(str(target)),
        *stack,
        body=sq._RM2_BODY,
    )
    return con.execute(sql).fetchdf()


def bm1_decomposed(con, tmp: str):
    """bm1: stage the chain — (1) the linear cluster frames
    (sources/targets/racks/coverage) materialize directly; (2) the
    per-container source pick (c1 = 1) replays in container slices
    (both its windows partition by container_id); (3) the per-source
    cumulative budget runs over the collapsed pick (one row per
    container); (4) the target pairing + anti-join replays in container
    slices; (5) the per-target cumulative fold runs over the collapsed
    t1 = 1 rows."""
    base = [
        model.DATANODES_CTE,
        model.CONTAINERS_CTE,
        model.CONTAINER_REPLICAS_CTE,
    ]
    frames_pq = {}
    for name in ("bm_sources", "bm_targets", "bm_cont_racks", "bm_cov"):
        pq = os.path.join(tmp, f"{name}.parquet")
        frames_pq[name] = pq
        deps = [
            c
            for c in sq._BM_STACK
            if _cte_name(c)
            in ("bm_nodes", "bm_class", "bm_sources", "bm_targets",
                "bm_cont_racks", "bm_cov")
        ]
        sql = model.with_ctes(*base, *deps, body=f"SELECT * FROM {name}")
        con.execute(f"COPY ({sql}) TO '{pq}' (FORMAT PARQUET)")

    # stage 2: per-container source pick, sliced (c1 window is
    # container-local; the src_cum window is NOT, so it moves to stage 3)
    for i in range(N_SLICES):
        sql = model.with_ctes(
            model.DATANODES_CTE,
            _sliced_containers(N_SLICES, i),
            _sliced_container_replicas(N_SLICES, i),
            _parquet_cte("bm_sources", frames_pq["bm_sources"]),
            body="""SELECT * FROM (
  SELECT r.container_id, s.source_datanode_id, s.source_rack,
         s.bytes_over_upper, m.replication_factor, m.used_bytes,
         row_number() OVER (PARTITION BY r.container_id
           ORDER BY s.bytes_over_upper DESC, s.source_datanode_id) AS c1
  FROM container_replicas r
  JOIN bm_sources s ON r.datanode_id = s.source_datanode_id
  JOIN (SELECT container_id, replication_factor, used_bytes
        FROM containers
        WHERE state = 'CLOSED' AND used_bytes > 0) m
    USING (container_id)
) WHERE c1 = 1""",
        )
        con.execute(
            f"COPY ({sql}) TO '{tmp}/bm_picked_{i}.parquet' (FORMAT PARQUET)"
        )

    # stage 3: the per-source cumulative budget over the collapsed pick
    cand_pq = os.path.join(tmp, "bm_cand.parquet")
    con.execute(
        f"""COPY (
  SELECT * FROM (
    SELECT *, SUM(used_bytes) OVER (
        PARTITION BY source_datanode_id
        ORDER BY used_bytes DESC, container_id ROWS UNBOUNDED PRECEDING
      ) AS src_cum
    FROM read_parquet('{tmp}/bm_picked_*.parquet')
  ) WHERE src_cum <= bytes_over_upper
) TO '{cand_pq}' (FORMAT PARQUET)"""
    )

    # stage 3b: the operator's own per-rack target prune (operators/
    # scm.py balancer_moves, VERDICT r6 #4 proof): the pick law scans
    # targets in (headroom DESC, id) order and a container disqualifies
    # at most max(rack_cnt) nodes in any one rack plus whole racks, so
    # the chosen target always sits in its rack's top (max(rack_cnt)+1)
    # prefix — pruned rows can never be t1 = 1, the replay result is
    # bit-identical, and the pairing shrinks from |cand| x |targets| to
    # |cand| x |racks| x (rf+1)
    targets_pruned = os.path.join(tmp, "bm_targets_pruned.parquet")
    con.execute(
        f"""COPY (
  SELECT target_datanode_id, target_rack, bytes_under_lower FROM (
    SELECT t.*, row_number() OVER (PARTITION BY target_rack
             ORDER BY bytes_under_lower DESC, target_datanode_id) AS _tr,
           (SELECT max(rack_cnt)
            FROM read_parquet('{frames_pq["bm_cont_racks"]}')) + 1 AS _keep
    FROM read_parquet('{frames_pq["bm_targets"]}') t
  ) WHERE _tr <= _keep
) TO '{targets_pruned}' (FORMAT PARQUET)"""
    )

    # stage 4: target pairing + NOT EXISTS, sliced by container (both
    # the t1 window and the anti-join key are container-local)
    for i in range(N_SLICES):
        sliced_cand = (
            f"bm_cand AS (SELECT * FROM read_parquet('{cand_pq}')"
            f" WHERE container_id % {N_SLICES} = {i})"
        )
        sql = model.with_ctes(
            model.DATANODES_CTE,
            _sliced_container_replicas(N_SLICES, i),
            sliced_cand,
            _parquet_cte("bm_targets", targets_pruned),
            _parquet_cte("bm_cont_racks", frames_pq["bm_cont_racks"]),
            _parquet_cte("bm_cov", frames_pq["bm_cov"]),
            body=f"SELECT * FROM ({sq._BM_PICK_SQL}) WHERE t1 = 1",
        )
        con.execute(
            f"COPY ({sql}) TO '{tmp}/bm_t1_{i}.parquet' (FORMAT PARQUET)"
        )

    # stage 5: the per-target cumulative fold over the collapsed picks
    return con.execute(
        f"""SELECT container_id, source_datanode_id, target_datanode_id,
       used_bytes, source_rack, target_rack
FROM (
  SELECT *, SUM(used_bytes) OVER (
      PARTITION BY target_datanode_id
      ORDER BY used_bytes DESC, container_id ROWS UNBOUNDED PRECEDING
    ) AS tgt_cum
  FROM read_parquet('{tmp}/bm_t1_*.parquet')
)
WHERE tgt_cum <= bytes_under_lower
ORDER BY container_id"""
    ).fetchdf()


def cdc_decomposed(con, tmp: str):
    """dp_cdc_chunks: chunking is doc-local — replay the tokenize +
    boundary + chunk-hash stack in doc_id % N_SLICES slices of the
    dedup corpus (the monolithic replay carries every doc's token
    array at once and bad_allocs), then run the shared-hash rollup
    over the materialized (doc_id, chunk_hash) frame — linear."""
    for i in range(N_SLICES):
        corpus = model.DEDUP_CORPUS_CTE.rstrip()
        sliced = (
            f"{corpus},\ndedup_corpus_s AS "
            f"(SELECT * FROM dedup_corpus WHERE doc_id % {N_SLICES} = {i})"
        )
        chunk_stack = ",\n".join(
            c.replace("FROM dedup_corpus)", "FROM dedup_corpus_s)")
            for c in dq._CDC_CHUNKS_CTE
        )
        sql = (
            f"WITH {sliced},\n{chunk_stack}\n"
            "SELECT doc_id, chunk_idx, chunk_hash FROM cdc_chunks"
        )
        con.execute(
            f"COPY ({sql}) TO '{tmp}/cdc_chunks_{i}.parquet' (FORMAT PARQUET)"
        )
    return con.execute(
        f"""WITH cdc_chunks AS (
  SELECT * FROM read_parquet('{tmp}/cdc_chunks_*.parquet')
),
cdc_shared AS (
  SELECT chunk_hash FROM (
    SELECT chunk_hash, count(*) AS n_docs
    FROM (SELECT DISTINCT chunk_hash, doc_id FROM cdc_chunks)
    GROUP BY chunk_hash
  ) WHERE n_docs >= 2
)
SELECT p.doc_id, p.n_chunks,
  COALESCE(s.n_shared, 0) AS n_shared_chunks,
  COALESCE(s.n_shared, 0) / p.n_chunks AS shared_frac
FROM (SELECT doc_id, count(*) AS n_chunks FROM cdc_chunks GROUP BY doc_id) p
LEFT JOIN (SELECT doc_id, count(*) AS n_shared FROM cdc_chunks
           WHERE chunk_hash IN (SELECT chunk_hash FROM cdc_shared)
           GROUP BY doc_id) s USING (doc_id)
ORDER BY p.doc_id"""
    ).fetchdf()


REPLAYS = {
    "rm1_replication_actions": rm1_decomposed,
    "rm2_placement_targets": rm2_decomposed,
    "bm1_balancer_moves": bm1_decomposed,
    "dp_cdc_chunks": cdc_decomposed,
}


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/repo/.testdata/sf10"
    only = set(argv[1:]) or set(REPLAYS)

    import __spark_entry__ as entrymod

    spark = get_spark("sf10-decompose")
    qs = entrymod.queries()
    tmp = tempfile.mkdtemp(prefix="sf10_decompose_")
    records = {}
    try:
        con = duckdb.connect()
        con.execute(
            f"SET memory_limit='{os.environ.get('ORACLE_DUCKDB_MEM', '32GB')}'"
        )
        spill = os.path.join(tmp, "spill")
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        for t in model.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS"
                f" SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name, replay in REPLAYS.items():
            if name not in only:
                continue
            t0 = time.time()
            try:
                sdf = qs[name](spark, sf_dir).toPandas()
                spark_sec = round(time.time() - t0, 1)
                t1 = time.time()
                odf = replay(con, tmp)
                oracle_sec = round(time.time() - t1, 1)
            except Exception as e:  # noqa: BLE001
                records[name] = {"hash_match": False, "err": str(e)[:500]}
                print(f"FAIL {name}: {e}")
                continue
            problems = []
            if len(sdf) != len(odf):
                problems.append(f"rows {len(sdf)} != {len(odf)}")
            if sorted(sdf.columns) != sorted(odf.columns):
                problems.append(
                    f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}"
                )
            if not problems:
                hs = value_hash(normalize(sdf))
                ho = value_hash(normalize(odf))
                if hs != ho:
                    problems.append(f"hash {hs} != {ho}")
            records[name] = {
                "rows_match": not any(p.startswith("rows") for p in problems),
                "schema_match": not any(p.startswith("cols") for p in problems),
                "hash_match": not problems,
                "rows": len(sdf),
                "spark_sec": spark_sec,
                "oracle_sec": oracle_sec,
                "decomposed": True,
                "err": "; ".join(problems) or None,
            }
            status = "OK  " if not problems else "FAIL"
            print(
                f"{status} {name} ({len(sdf)} rows, spark {spark_sec}s,"
                f" decomposed oracle {oracle_sec}s)"
                + (f": {'; '.join(problems)}" if problems else "")
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": records}, fh, indent=1)
    bad = [n for n, r in records.items() if not r.get("hash_match")]
    print(f"{len(bad)} failures" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
