"""Physical-plan regression tests: lock in the plan shapes the scale
story depends on (top-k cut, broadcast joins, partial aggregation,
parquet pushdown). A change that silently degrades one of these would
pass correctness but lose 100 TB viability."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from hadoop_ozone_spark import model
from hadoop_ozone_spark.operators import skew


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_listing_is_topk_not_full_sort(spark, sf_dir):
    p = plan_of(entry.queries()["w1_list_keys_page"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort


def test_container_health_broadcasts_dim(spark, sf_dir):
    p = plan_of(entry.queries()["j2_container_health"](spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_q3_joins_broadcast(spark, sf_dir):
    p = plan_of(entry.queries()["q3_top_revenue_orders"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_histogram_partial_aggregation(spark, sf_dir):
    p = plan_of(entry.queries()["a1_file_size_histogram"](spark, sf_dir))
    # two-phase hash aggregate (map-side partial + final)
    assert p.count("HashAggregate") >= 2


def test_q6_predicates_reach_parquet(spark, sf_dir):
    p = plan_of(entry.queries()["q6_selective_agg"](spark, sf_dir))
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(l_discount" in p or "l_discount" in p.split("PushedFilters")[1][:400]


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = model.load(spark, sf_dir, "lineitem").select("l_orderkey")
    p = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in p


def test_salted_aggregation_equals_direct(spark, sf_dir):
    keys = model.om_keys(spark, sf_dir)
    direct = {
        (r["volume"], r["bucket"]): (r["s"], r["c"])
        for r in keys.groupBy("volume", "bucket")
        .agg(F.sum("data_size").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    salted = {
        (r["volume"], r["bucket"]): (r["sum_data_size"], r["cnt"])
        for r in skew.salted_sum_count(
            keys.select("volume", "bucket", "data_size"), ["volume", "bucket"], "data_size"
        ).collect()
    }
    assert salted == direct


def test_q7_dims_broadcast_fact_shuffles_once(spark, sf_dir):
    p = plan_of(entry.queries()["q7_volume_shipping"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dims must never shuffle the fact


def test_q10_topk_after_aggregation(spark, sf_dir):
    p = plan_of(entry.queries()["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_q16_distinct_count_partial_agg(spark, sf_dir):
    p = plan_of(entry.queries()["q16_supplier_variety"](spark, sf_dir))
    # distinct-count expands to two-phase aggregation
    assert p.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in p


def test_q19_part_filters_pushed_to_scan(spark, sf_dir):
    p = plan_of(entry.queries()["q19_disjunctive_revenue"](spark, sf_dir))
    # the quantity bounds (common to all OR branches after join) and the
    # part brand/size IN-lists must reach the parquet readers
    assert "PushedFilters: [" in p
    assert "l_quantity" in p


def test_q21_single_fact_shuffle(spark, sf_dir):
    p = plan_of(entry.queries()["q21_waiting_suppliers"](spark, sf_dir))
    # orders broadcasts into lineitem; the fact shuffles exactly once —
    # the single groupBy(l_orderkey) collect_set aggregate (the old
    # (orderkey,suppkey)-agg + orderkey-window form paid a second
    # exchange); the only other exchange is the tiny s_name rollup
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_q2_groupwise_min_over_aggregate(spark, sf_dir):
    p = plan_of(entry.queries()["q2_min_cost_supplier"](spark, sf_dir))
    # the window (row_number) must run over the offers aggregate, i.e.
    # after a HashAggregate, never over raw lineitem
    assert "Window" in p
    assert "BroadcastHashJoin" in p
    assert p.index("Window") < p.index("HashAggregate")  # window above agg in tree


def test_q20_semi_join_stays_semi(spark, sf_dir):
    p = plan_of(entry.queries()["q20_surplus_suppliers"](spark, sf_dir))
    assert "LeftSemi" in p


# --- dedup / ANN pipelines (VERDICT r2 #7): the plans the 100 TB story
# rests on. The temporal-broadcast bug (commit 6720fae) is exactly the
# class these catch.


def test_minhash_fast_no_allpairs_and_one_text_pass(spark, sf_dir):
    # the xxhash64 family benched as dp_minhash_pairs_fast (bench.py:77)
    from hadoop_ozone_spark.datapipe import dedup

    p = plan_of(
        dedup.minhash_dedup_pairs(model.dedup_corpus(spark, sf_dir), threshold=0.5)
    )
    # banding is an equi-join: any nested-loop/cartesian here is the
    # all-pairs catastrophe at scale
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the single persisted text pass feeds banding + both verify sides
    assert "InMemoryTableScan" in p


def test_ann_ivf_broadcasts_probes_and_cuts_topk(spark, sf_dir):
    p = plan_of(entry.queries()["dp_ann_ivf_topk"](spark, sf_dir))
    # codebook + probe list are broadcast; the fact (inverted lists) is
    # never on the build side of a shuffle join
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # top-k is a cut, not a global sort
    assert "TakeOrderedAndProject" in p


def test_ivfpq_static_probe_prunes_index_partitions(spark, sf_dir, tmp_path):
    """The IVFADC scale law (VERDICT r6 #2): with the code table
    persisted partitioned by list_id and driver-known probe lists, the
    probe filter must reach the scan as a PARTITION filter — only
    nprobe of n_lists partitions are listed/read, and each row is the
    compressed code, not the raw vector."""
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, sf_dir)
    path = str(tmp_path / "ivfpq_index")
    sim.ivfpq_index(emb).write.partitionBy("list_id").parquet(path)
    idx = spark.read.parquet(path)
    # the real probe set for vec 10 (tiny codebook scored driver-side —
    # the deployment fast path the operator documents)
    c = sim.ivf_centroids(emb)
    q = emb.filter(F.col("vec_id") == 10).select(
        sim.as_double(F.col("embedding")).alias("qv")
    )
    lists = [
        r.list_id
        for r in q.crossJoin(F.broadcast(c))
        .select(
            "list_id",
            F.round(sim.cosine(F.col("qv"), F.col("cvec")), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("list_id"))
        .limit(4)
        .collect()
    ]
    out = sim.ivfpq_topk(
        emb, probe_vec_id=10, k=5, nprobe=4, index=idx, probe_lists=lists
    )
    p = plan_of(out)
    scan = p.split("PartitionFilters: [")
    assert len(scan) >= 2, p  # the probe filter reached a partitioned scan
    assert "list_id" in scan[1][:300]
    # and the ADC side reads only codes — never the raw embedding column
    idx_scan = [s for s in p.split("FileScan parquet") if "ivfpq_index" in s[:500]]
    assert idx_scan and "embedding" not in idx_scan[0].split("ReadSchema")[1][:200]


def test_incremental_dedup_prebuilt_never_rescans_corpus_text(spark, tmp_path):
    """The rolling-ingest batch plan (same join program as the streaming
    twin, streaming/dedup_stream.py:67-96): with the persisted artifacts
    passed in, the corpus TEXT source must not appear in the plan — the
    batch reads only the slim band index + shingle table."""
    from hadoop_ozone_spark.datapipe import dedup

    corpus_path = str(tmp_path / "corpus_text")
    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(1, 30), i -> concat('w', pmod(hash(id * 7 + i), 50))), ' ') AS text",
    )
    docs.write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    ch = dedup.hashed_shingle_df(corpus, portable=True).filter(F.size("h0") > 0)
    cb = dedup.band_table(
        dedup.signatures_from_hashed(ch, portable=True), portable=True
    )
    hashed_path, bands_path = str(tmp_path / "hashed"), str(tmp_path / "bands")
    ch.write.parquet(hashed_path)
    cb.write.parquet(bands_path)
    # delta built independently of the corpus reader (same deterministic
    # text law over overlapping ids → guaranteed near-dups) so the only
    # possible corpus_path scan in the plan is from the operator itself
    delta = spark.range(20).selectExpr(
        "id + 10000 AS doc_id",
        "concat(array_join(transform(sequence(1, 30), i -> concat('w', pmod(hash(id * 7 + i), 50))), ' '), ' tail') AS text",
    )
    pairs = dedup.minhash_incremental_pairs(
        corpus,
        delta,
        portable=True,
        corpus_hashed=spark.read.parquet(hashed_path),
        corpus_bands=spark.read.parquet(bands_path),
    )
    p = plan_of(pairs)
    # source check via inputFiles(), not the plan string — Spark
    # truncates scan Location strings at maxMetadataStringLength, so a
    # long-enough tmp dir would silently break a substring assert
    files = "\n".join(pairs.inputFiles())
    assert "/hashed/" in files and "/bands/" in files
    assert "/corpus_text/" not in files  # corpus text is out of the batch plan
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pack_plan_windows_are_sharded_not_global(spark, sf_dir):
    """The packing cumsum must run per shard (hashpartitioning on
    shard), never as one global single-partition window — the
    difference between parallel packing and a 100 TB sort bottleneck."""
    from hadoop_ozone_spark.datapipe import packing

    docs = model.load(spark, sf_dir, "documents")
    p = plan_of(packing.pack_plan(docs, context_len=2048, shard_size=10_000))
    assert "Exchange SinglePartition" not in p
    assert "Window" in p


def test_balancer_no_sort_merge_join(spark, sf_dir):
    # the replicas groupBy is the only fact shuffle; containers dim and
    # the 1-row cluster totals ride broadcasts
    p = plan_of(entry.queries()["b1_balancer_utilization"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_decommission_prunes_before_sufficiency(spark, sf_dir):
    # the monitored-container semi-join must reach BOTH fact inputs of
    # the sufficiency aggregation (cost bounded by draining nodes'
    # containers, not cluster size)
    p = plan_of(entry.queries()["d1_decommission_status"](spark, sf_dir))
    assert p.count("LeftSemi") >= 2


def test_train_order_windows_are_sharded_not_global(spark, sf_dir):
    p = plan_of(entry.queries()["dp_train_order"](spark, sf_dir))
    assert "SinglePartition" not in p  # no global-window exchange


def test_chunk_dedup_partial_agg_on_chunk_hash(spark, sf_dir):
    # boilerplate df-count must partial-aggregate map-side (combinable
    # groupBy on chunk_hash) — the only all-corpus shuffle
    p = plan_of(entry.queries()["dp_chunk_dedup"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in p


def test_heatmap_rollup_is_one_expand_pass(spark, sf_dir):
    # ROLLUP must compile to one Expand + two-phase aggregate, not
    # per-level re-scans
    p = plan_of(entry.queries()["h1_access_heatmap"](spark, sf_dir))
    assert "Expand" in p
    assert p.count("HashAggregate") >= 2


def test_rm1_actions_broadcast_dims_no_cartesian(spark, sf_dir):
    # the planner is one pass per container: the replica plane grouped
    # by container once, crossed with ONE broadcast row (candidates +
    # rack count), every action built by higher-order functions and
    # exploded once — no nested-loop product of containers × nodes
    df = entry.queries()["rm1_replication_actions"](spark, sf_dir)
    p = plan_of(df)
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert p.count("Generate ") == 1
    # disaster-mode fan-out guard (VERDICT r5 #2): each candidate is
    # ranked within its rack, and the broadcast list keeps ranks <=
    # max(rf) only — per-container work is bounded by |racks| × max_rf
    # candidates instead of |nodes|
    assert "row_number() windowspecdefinition(rack#" in p
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"filter\(collect_list\(cand#\d+.*\.pre <= max\(rf#", optimized)
    # the replica grouping rides a hash join to the containers. The
    # initial plan over these model frames may pick a sort-merge join
    # (without CBO a join's size estimate is the product of its inputs);
    # the plan that runs must not
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "SortMergeJoin" not in final


def test_rm2_probe_is_single_container_window(spark, sf_dir):
    # the probe prunes to ONE container before the candidate window, so
    # the window input is |candidates|, not |under|×|candidates|
    p = plan_of(entry.queries()["rm2_placement_targets"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_n2_usage_topk_is_take_ordered(spark, sf_dir):
    p = plan_of(entry.queries()["n2_datanode_usage"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_semantic_dedup_joins_on_cluster_not_allpairs(spark, sf_dir):
    # the pairwise stage must be an equi-join keyed on list_id (the
    # SemDeDup bound: quadratic only within a cluster) — a cartesian/
    # nested-loop product here would be the all-pairs scan the design
    # forbids
    p = plan_of(entry.queries()["dp_semantic_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "list_id" in p


def test_resolve_files_join_is_planner_choice(spark, sf_dir):
    # VERDICT r4 #5: resolve_files must not FORCE a broadcast of the
    # dir-path frame — the optimized logical plan carries no join hint,
    # leaving AQE free to shuffle when the namespace outgrows it
    from hadoop_ozone_spark.operators import fso

    dirs = model.fso_dirs(spark, sf_dir)
    files = model.fso_files(spark, sf_dir)
    df = fso.resolve_files(files, fso.materialize_paths(dirs))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "JoinHint" not in optimized


def test_rm3_close_stats_share_one_window_exchange(spark, sf_dir):
    # per-container stats (count / quorum / max BCSID) are windows over
    # ONE persisted frame: every dispatch branch reads the cached
    # window output (InMemoryTableScan) — the single container_id
    # Exchange behind it runs once at materialization — and no
    # self-join (SortMergeJoin) re-enters the frame
    p = plan_of(entry.queries()["rm3_close_actions"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "InMemoryTableScan" in p


def test_rm4_delete_plane_broadcasts_dims(spark, sf_dir):
    p = plan_of(entry.queries()["rm4_delete_actions"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_p3_scrub_is_map_only(spark, sf_dir):
    # pure classification over the pipeline dim — no Exchange other
    # than the final ordering
    p = plan_of(entry.queries()["p3_pipeline_scrub"](spark, sf_dir))
    assert "hashpartitioning" not in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_bm1_moves_broadcast_dims_no_cartesian(spark, sf_dir):
    # sources/targets are broadcast node-dim sets over the replica
    # plane; the under-set product is a broadcast nested loop, never an
    # unbroadcast CartesianProduct; budgets are per-node windows
    p = plan_of(entry.queries()["bm1_balancer_moves"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_bm1_residual_smjs_are_container_keyed(spark, sf_dir):
    """VERDICT r6 #4: the SMJs left in bm1's FINAL adaptive plan must
    all be container-dim fact⋈fact joins keyed on container_id — the
    shape that co-partitions for free under the bucketed layout v7 and
    stays sub-linear at 20M replicas (scale-probe row in BENCH_NOTES).
    A node-dim or unkeyed SMJ would mean a dim join missed its
    broadcast — that is what this pin catches."""
    df = entry.queries()["bm1_balancer_moves"](spark, sf_dir)
    df.collect()  # run so AQE finalizes its conversions
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "SortMergeJoin" in line:
            assert "container_id" in line, line


def test_pp1_targets_broadcast_picks(spark, sf_dir):
    # the three member picks are 1-row broadcast joins over the viable
    # node dim; the only windows run on |nodes| rows
    p = plan_of(entry.queries()["pp1_pipeline_targets"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_dup_spans_plan_shape(spark, sf_dir):
    """Span-family plan pins: (a) the token-array scratch barrier is
    LIVE — the gram build must read an InMemoryTableScan, because
    without the persist Catalyst inlines the token transform into
    every per-position reference and the build is O(tokens²·k) per
    doc (measured 78s vs 1.4s at sf0.1); (b) nothing quadratic — no
    CartesianProduct / BroadcastNestedLoopJoin; (c) the sharing
    aggregate is map-side partial (partial_min/partial_max), never a
    COUNT DISTINCT expand."""
    p = plan_of(entry.queries()["dp_dup_spans"](spark, sf_dir))
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p and "partial_max" in p
    assert "Expand" not in p  # the count-distinct shape


def test_dup_span_clean_plan_shape(spark, sf_dir):
    p = plan_of(entry.queries()["dp_dup_span_clean"](spark, sf_dir))
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_token_ladder_no_smj_no_window(spark, sf_dir):
    """The renew/cancel ladders are single equi-joins on token_id —
    AQE-broadcast at bench scale, never a window, never a sort-merge."""
    for name in ("tok_renew_decisions", "tok_cancel_decisions"):
        df = entry.queries()[name](spark, sf_dir)
        df.collect()  # let AQE finalize
        p = plan_of(df)
        assert "Window" not in p, name
        assert "SortMergeJoin" not in p, name


def test_dn1_window_keyed_by_datanode(spark, sf_dir):
    """The block-deletion plan's prefix-sum windows are ALL keyed by
    datanode_id (never an unpartitioned all-to-one window — Catalyst
    may duplicate the window node for the filter branch, but every
    instance must carry the per-node key), and the candidate joins
    never degrade to sort-merge."""
    df = entry.queries()["dn1_block_deletion_plan"](spark, sf_dir)
    df.collect()
    p = plan_of(df)
    assert "Window" in p
    for frag in p.split("windowspecdefinition(")[1:]:
        assert frag.startswith("datanode_id"), frag[:80]
    assert "SortMergeJoin" not in p


def test_m9_m10_planes_broadcast_only(spark, sf_dir):
    """The volume/bucket request ladders evaluate against broadcast
    dims — no shuffle join anywhere in the decision path."""
    for name in ("m9_volume_lifecycle", "m10_bucket_create"):
        df = entry.queries()[name](spark, sf_dir)
        df.collect()
        p = plan_of(df)
        assert "SortMergeJoin" not in p, name
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, name


def test_nb_scoring_model_broadcasts(spark, sf_dir):
    """The NB model/class dims ride broadcasts into the scoring pass;
    the corpus shuffles only on the per-doc aggregate keys."""
    df = entry.queries()["dp_nb_lang_confusion"](spark, sf_dir)
    df.collect()
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_quality_sweep_no_threshold_fanout(spark, sf_dir):
    """The sweep buckets docs in ONE corpus pass (two-phase agg, single
    shuffle on bucket_ppm); the threshold ladder joins as a broadcast —
    never a threshold x corpus product or explode."""
    p = plan_of(entry.queries()["dp_quality_sweep"](spark, sf_dir))
    assert "CartesianProduct" not in p and "Generate" not in p
    assert p.count("FileScan parquet") == 1  # one corpus read
    assert "Exchange hashpartitioning(bucket_ppm" in p
    assert p.count("HashAggregate") >= 2  # map-side partial + final


def test_split_leakage_single_corpus_shuffle(spark, sf_dir):
    """Corpus rows shuffle once, keyed on the md5 fingerprint (uniform);
    the combo rollup reshuffles only the leaked set."""
    p = plan_of(entry.queries()["dp_split_leakage"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Exchange hashpartitioning(fingerprint" in p
    # no other corpus-carrying exchange: the remaining ones key the
    # tiny splits-combo frame
    import re

    corpus_exchanges = [
        m for m in re.findall(r"Exchange hashpartitioning\((\w+)", p)
    ]
    assert set(corpus_exchanges) <= {"fingerprint", "splits"}


def test_bm25_query_terms_broadcast_semi_filter(spark, sf_dir):
    # the standing-query term dim must ride a broadcast LEFT-SEMI into
    # the token stream (postings build over the matching slice only),
    # and no join in the plan may fall to sort-merge
    p = plan_of(entry.queries()["dp_bm25_topk"](spark, sf_dir))
    assert "LeftSemi" in p and "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pq_encode_argmin_is_fixed_width_hash_agg(spark, sf_dir):
    # VERDICT r7 #3 regression pin: the per-(vec, sub) argmin must stay
    # a plain long min inside codegen HashAggregate — min(struct) routes
    # through ObjectHashAggregate, whose sort fallback materializes the
    # m*n_codes blowup per task and OOMed the 1M-vector encode
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.load(spark, sf_dir, "embeddings")
    cb = sim.pq_codebooks(emb)
    p = plan_of(sim.pq_encode(emb, cb))
    argmin = [
        line
        for line in p.splitlines()
        if "min(_pk" in line and "Aggregate" in line
    ]
    assert argmin, p
    assert all("ObjectHashAggregate" not in line for line in argmin)
    assert "partial_min" in p  # map-side combine before the shuffle
    # the per-vector codes fold (8 rows/group post-min) MAY be object agg


_TREE_MARK = __import__("re").compile(r"[+:]- ")


def plan_subtrees(p: str, needle: str) -> list[str]:
    """Every subtree of the plan-string tree whose root line contains
    `needle` (text parse — the AQE wrapper hides children from py4j
    traversal). A node's subtree = following lines whose tree-art
    marker sits deeper than its own."""
    lines = p.splitlines()
    blocks = []
    for k, line in enumerate(lines):
        if needle not in line:
            continue
        m = _TREE_MARK.search(line)
        i = m.start() if m else -1
        block = [line]
        for nxt in lines[k + 1:]:
            m2 = _TREE_MARK.search(nxt)
            if (m2.start() if m2 else -1) <= i:
                break
            block.append(nxt)
        blocks.append("\n".join(block))
    return blocks


def test_knn_label_never_broadcasts_corpus_labels(spark, sf_dir):
    # VERDICT r8 #2 regression pin: the vote join must broadcast the
    # KNN side (|queries|*k rows) — broadcasting the corpus-sized
    # train-label table is a driver OOM by construction at 100x. A
    # broadcast subtree may contain the train scan (the knn result's
    # lineage does) but never a train scan that carries the label
    # column: that combination is exactly the wrong-side hint.
    p = plan_of(entry.queries()["dp_knn_label"](spark, sf_dir))
    subs = plan_subtrees(p, "BroadcastExchange")
    assert subs, p  # the vote + truth joins must still broadcast
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    for sub in subs:
        # inspect the subtree HEAD only (exchange + projection + filter
        # + scan): the wrong-side hint puts the train filter and the
        # label column right under the exchange; deeper occurrences are
        # legit lineage (the knn frame's scoring plan reads train, and
        # a session-cached embeddings relation lists `label` in its
        # schema text regardless of pruning)
        head = "\n".join(sub.splitlines()[:4])
        train_scan = "NOT ((vec_id" in head
        labels_read = "label" in head
        assert not (train_scan and labels_read), sub[:2000]


def test_qsketch_artifact_cached_and_no_smj(spark, sf_dir):
    # the <=160-row sketch artifact must be cached and reused by the
    # quantile fold and both n references (write-time-artifact contract)
    # instead of re-running the corpus pass per reference. Either
    # cached form counts: a persisted relation (InMemoryTableScan) or
    # the r13 checkpoint leaf (Scan ExistingRDD — same data reuse, plan
    # truncated so downstream actions skip re-optimizing the corpus
    # CASE-ladder tree)
    p = plan_of(entry.queries()["dp_qsketch_tokens"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    cached_scans = p.count("InMemoryTableScan") + p.count("Scan ExistingRDD")
    assert cached_scans >= 2, p
    # the corpus pass itself (map-side combine on the sketch groupBy)
    # runs once, at artifact build time — with the checkpoint leaf the
    # final plan no longer carries it, so assert it on the artifact's
    # own (pre-checkpoint) build plan instead
    from hadoop_ozone_spark.datapipe import sketches as sk
    from hadoop_ozone_spark import model as _model
    from pyspark.sql import functions as F
    from hadoop_ozone_spark.datapipe import text as _text

    docs = _model.load(spark, sf_dir, "documents")
    tc = docs.select(
        F.size(_text.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens")
    )
    build_p = plan_of(sk.qsketch_counts(tc, "n_tokens"))
    assert "partial_count" in build_p


def test_kmv_sketch_is_takeordered_not_global_sort(spark, sf_dir):
    # the k-smallest-distinct-hashes build must compile to
    # TakeOrderedAndProject (per-partition top-k merged at the driver),
    # never a global Sort over the distinct-hash set
    from hadoop_ozone_spark.datapipe import sketches

    ev = model.load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    p = plan_of(sketches.kmv_sketch(ev, "k"))
    assert "TakeOrderedAndProject" in p
    assert "Sort [h" not in p  # no full sort of the hash set


def test_kmv_matrix_broadcasts_pairs_never_smj(spark, sf_dir):
    # everything after the grouped sketch runs on <= |groups|*KMV_K
    # rows: the pair frame rides a broadcast into the sketch rows and
    # no join may fall to sort-merge
    p = plan_of(entry.queries()["dp_kmv_type_matrix"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_mg_threshold_is_takeordered_broadcast(spark, sf_dir):
    # the (k+1)-th-largest-count threshold must come from
    # TakeOrdered(k+1) broadcast back over the counts — not a global
    # rank window over the counts frame
    from hadoop_ozone_spark.datapipe import sketches
    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = model.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            text_ops.tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("token")
    )
    p = plan_of(sketches.mg_summary(tok, "token"))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Window" not in p


def test_grouped_sketch_builds_are_windowgrouplimit_partial(spark, sf_dir):
    # VERDICT r9 #6: the grouped KMV/MG rank windows must compile to
    # WindowGroupLimit with a PARTIAL pass BELOW the per-key exchange
    # (map-side per-key top-k) — a hot group can then never force a
    # full per-group sort of its rows through the shuffle (the
    # forced-skew probe row in BENCH_NOTES is the wall-time leg)
    from hadoop_ozone_spark.datapipe import sketches

    ev = model.load(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.col("user_id").cast("string").alias("k"),
    )
    for build in (
        sketches.kmv_sketch_grouped(ev, "key", "k"),
        sketches.mg_summary_grouped(ev, "key", "k"),
    ):
        p = plan_of(build)
        assert "WindowGroupLimit" in p
        i_final = p.index(", Final")
        i_partial = p.index(", Partial")
        # the tree prints children below parents: Final sits above the
        # key exchange, Partial below it (map side)
        i_exchange = p.index("Exchange hashpartitioning(key", i_final)
        assert i_final < i_exchange < i_partial
        assert "Sort [" not in p.split("WindowGroupLimit")[0]  # no global sort above

def test_cluster_size_is_groupby_join_not_window(spark, sf_dir):
    # VERDICT r10 #1: cluster_size must be a map-side-combinable
    # groupBy(cluster_id).count() joined back — NEVER a count window
    # partitioned by cluster_id. cluster_id is the one key these
    # operators guarantee is skewed (a dup-dense corpus IS a hot
    # cluster), and WindowExec materializes each partition in ONE
    # task, serializing the viral cluster through a single core while
    # the groupBy reduces it in parallel and AQE can split the join.
    from hadoop_ozone_spark.datapipe import multimodal

    docs = model.load(spark, sf_dir, "documents")
    for df in (
        entry.queries()["dp_dedup_clusters"](spark, sf_dir),
        multimodal.media_dup_clusters(
            multimodal.synthesize_thumbnails(docs)
        ),
    ):
        p = plan_of(df)
        for line in p.splitlines():
            assert not (
                line.lstrip().startswith(("Window ", "+- Window", ":- Window"))
                and "cluster_id" in line
            ), f"count window over cluster_id: {line}"
        # the size fold is a two-phase hash aggregate keyed on cluster_id
        assert "partial_count" in p or ", Partial" in p

def test_reservoir_builds_takeordered_and_windowgrouplimit(spark, sf_dir):
    # the flat sample is one TakeOrderedAndProject (per-partition
    # bottom-k, never a global sort); the grouped sample compiles to
    # the WindowGroupLimit-Partial map-side top-k like the rest of the
    # grouped sketch family
    p = plan_of(entry.queries()["dp_reservoir_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    pg = plan_of(entry.queries()["dp_reservoir_by_source"](spark, sf_dir))
    assert "WindowGroupLimit" in pg
    assert ", Partial" in pg


def test_weighted_reservoir_builds_takeordered_and_windowgrouplimit(
    spark, sf_dir
):
    # the A-ExpJ family compiles to the same physical shapes as the
    # uniform reservoir: flat = TakeOrderedAndProject on the race key
    # (per-partition bottom-k; the only sort above it is the k-row
    # output ordering), grouped = WindowGroupLimit-Partial (map-side
    # per-group top-k — the hot group never funnels through one task)
    p = plan_of(entry.queries()["dp_reservoir_weighted"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    # any sort above the TakeOrdered operates on <= k rows (the output
    # ordering), never on the input: the scan side must feed the
    # TakeOrdered directly
    assert "Exchange rangepartitioning" not in p.split(
        "TakeOrderedAndProject"
    )[1]
    pg = plan_of(
        entry.queries()["dp_reservoir_weighted_by_source"](spark, sf_dir)
    )
    assert "WindowGroupLimit" in pg
    assert ", Partial" in pg


def test_media_null_filter_never_pushes_into_hash_projection(spark, sf_dir):
    # Round 12: the unsupported-payload NULL filter must sit ABOVE the
    # persisted hash frame, never below it — Catalyst pushes a filter
    # on the computed column under the projection, duplicating the
    # dHash expression into the predicate (measured 2.4s -> 33.1s on
    # the sf0.1 hash build of the former 64-sample ladder). In the
    # correct plan the NULL filter references the dhash COLUMN, and no
    # Filter carries the re-inlined bit fold, sample lambda or header
    # parse.
    from hadoop_ozone_spark.datapipe import multimodal

    docs = model.load(spark, sf_dir, "documents")
    thumbs = multimodal.synthesize_thumbnails(docs)
    for df in (
        multimodal.media_near_dup_pairs(thumbs),
        multimodal.media_dup_clusters(thumbs),
    ):
        p = plan_of(df)
        assert "isnotnull(dhash" in p
        for line in p.splitlines():
            if "Filter" in line:
                for marker in ("aggregate(", "conv(hex(", "regexp_extract("):
                    assert marker not in line, line[:200]
