"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line (<1900 bytes — the driver parses the last ~2000 chars
of stdout): {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"calibration_sec": ...}. The FULL per-query payload (3-decimal timings,
cold/spread, calibration pair) lands in artifacts/bench_headline.json.

Deployment read path (VERDICT r3 #1): the warmup phase materializes the
namespace/corpora planes ONCE as the partitioned, key-sorted snapshot
plus the container-bucketed catalog tables (sources/deployment.py), and
every query then reads the materialized layout — so per-query timings
measure query plans against the serving layout, not per-run shim
derivation. Ingest/build cost is reported separately as warmup_sec.
Set SPARK_GRAFT_NO_SNAPSHOT=1 to measure the old shim-derivation path.

Variance control: each query runs three times. Run 1 is the COLD cost
(includes any within-query persist builds — recorded per query as
cold_sec). Runs 2-3 are steady state: the JSON's headline "queries"
records their min, and spread_pct = |run3-run2|/min documents genuine
repeat-to-repeat variance (the number the round notes track against
the <±10% bar). Per-query timing includes plan + execution + a
count() materialization (no driver collect of the data itself —
results land in marts, not the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from hadoop_ozone_spark.session import get_spark

# Heavy dedup/ANN pipelines run FIRST (right after warmup) so their
# timings reflect the query, not 20 queries' worth of accumulated
# session state (persisted frames, broadcasts, GC debt).
HEADLINE = [
    "dp_exact_dedup",
    "dp_minhash_pairs",
    "dp_minhash_pairs_fast",
    "dp_ann_brute_topk",
    "dp_ann_ivf_topk",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "q6_selective_agg",
    "w1_list_keys_page",
    "w2_s3_common_prefixes",
    "a1_file_size_histogram",
    "a3_namespace_du",
    "a5_quota_usage",
    "j2_container_health",
    "j4_container_key_index",
    "so1_latest_state",
    "a8_top_users",
    "m5_multipart_check",
    "j3_fso_path_resolution",
    "dp_token_stats",
    "dp_curation_pipeline",
    "ev_asof_join",
    "ev_range_join_binned",
    "q21_waiting_suppliers",
    # round 3 additions
    "dp_mixture_sample",
    "dp_pack_plan",
    # round 4 additions
    "j1_replica_history",
    "n1_datanodes",
    "dp_media_frame_sample",
    "b1_balancer_utilization",
    "d1_decommission_status",
    "dp_chunk_dedup",
    "dp_train_order",
    "t1_trash_status",
    "sm1_safemode_status",
    "h1_access_heatmap",
    # round 5 additions
    "rm1_replication_actions",
    "rm3_close_actions",
    "n2_datanode_usage",
    "dp_semantic_dedup",
    "m4_mpu_expiry",
    "dp_kmeans_step",
    "rm4_delete_actions",
    "l1_bucket_links",
    # round 6 additions
    "pp1_pipeline_targets",
    "s3_bucket_acl",
    "bm1_balancer_moves",
    "dp_ann_pq_topk",
    "dp_bpe_pair_counts",
    "dp_quality_strata",
    "dp_dsir_weights",
    # round 7 additions
    "dp_ann_ivfpq_topk",
    "dp_ann_ivfpq_knn_join",
    "dp_dedup_rate_report",
    "b2_balancer_summary",
    "dp_dup_spans",
    "dp_dup_spans_fast",
    "dp_nb_lang_confusion",
    "tok_renew_decisions",
    "m9_volume_lifecycle",
    "dp_decontaminate_spans",
    "dp_embedding_dim_stats",
    "dp_cdc_chunks",
    "dp_tfidf_topk",
    "m11_dir_create",
    "dp_split_leakage",
    "dp_quality_sweep",
    "ev_cohort_retention",
    "ev_funnel",
    "ev_transition_matrix",
    # round 8 additions (dp_dedup_clusters_incr is registered and
    # driver-checked but not headlined — it reruns the full minhash
    # pipeline twice per measurement, the dp_minhash_incremental
    # precedent)
    "dp_dedup_clusters",
    "dp_bm25_topk",
    "ev_conversion_latency",
    "dp_winnow_report",
    "dp_pmi_collocations",
    "dp_datasheet",
    "dp_hll_vocab",
    "dp_cm_heavy_hitters",
    "dp_bloom_decontaminate",
    "ev_top_paths",
    "dp_gram_novelty",
    "ev_hll_users_by_type",
    "dp_knn_label",
    "x15_list_tables",
    # round 9 additions
    "dp_knn_label_ivfpq",
    "recon_task_status",
    "dp_qsketch_tokens",
    "dp_qsketch_by_source",
    "dp_cm_by_source",
    "dp_kmv_user_overlap",
    "dp_mg_heavy_hitters",
    "dp_mg_by_source",
    "dp_kmv_type_matrix",
    "dp_corpus_drift",
    # round 10 additions
    "dp_bpe_vocab",
    "dp_media_near_dup",
    "dp_media_dup_clusters",
    "dp_reservoir_weighted",
    "dp_reservoir_weighted_by_source",
]

RUNS_PER_QUERY = 3  # 1 cold + 2 steady-state

# Broadcast-latency-floor planes (VERDICT r9 "what's wrong" #2): three
# same-family queries co-drifted +47-54% in r9 on a round where the
# calibration pair read the box FASTER. Their cost is dominated by
# sequential small-broadcast builds, so two steady repeats can't
# separate floor jitter from a real regression — these get the
# repeat-and-median treatment (5 steady runs; median + full run list
# recorded in the artifact's floor_profile) while the headline keeps
# the min-of-steady convention every other query uses.
FLOOR_PROFILE = {
    "bm1_balancer_moves",
    "pp1_pipeline_targets",
    "rm4_delete_actions",
    # VERDICT r10 #4: the sketch family drifted +18-31% in r10 on a
    # faster-calibration round, with 9-25% recorded spread on sub-2s
    # queries — same floor-jitter signature; the median treatment
    # separates it from the round's two family diffs (kmv_set_ops
    # refactor, read_mg_summary zone form)
    "dp_qsketch_tokens",
    "dp_qsketch_by_source",
    "dp_kmv_user_overlap",
    # VERDICT r11 #7: the media plane's binary-safe dHash is a
    # documented ~1.3x step-change (hex/conv per sampled raster byte);
    # floor-profile both consumers so that cost is the recorded new
    # floor and future drift is measured against it, not against r10
    "dp_media_near_dup",
    "dp_media_dup_clusters",
    # VERDICT r12 #8: the weighted reservoir pair lands in the
    # headline this round — floor-profile from day one so their first
    # recorded medians ARE the floor and later drift has a baseline
    "dp_reservoir_weighted",
    "dp_reservoir_weighted_by_source",
}
FLOOR_PROFILE_STEADY = 5
# ADVICE r11: a floor-profiled query whose MEDIAN (not just min) moves
# >= this factor vs the previous run's recorded floor is flagged in the
# artifact — the median treatment must not silently soften a real
# regression into "floor jitter"
FLOOR_MEDIAN_DRIFT_FLAG = 2.0


def calibration_run(spark) -> float:
    """Fixed synthetic reference job (VERDICT r7 #5): time a constant
    range→sort→hash-agg pipeline so cross-round bench totals can be
    normalized for tenant contention. The job is data-independent
    (spark.range), so its wall time moves ONLY with box load. Two
    passes, min kept — the first pass on a fresh session pays JIT /
    codegen warmup (measured 2.6s vs 0.9s steady), which would read
    as phantom contention."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(2):
        t0 = time.time()
        (
            spark.range(50_000_000)
            .withColumn("h", F.pmod(F.hash("id"), F.lit(4096)))
            .sort("h", "id")
            .groupBy("h")
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            .count()
        )
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    qs = entrymod.queries()

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.sources import deployment

    # Ingest phase (reported as warmup_sec): materialize-then-serve,
    # SURVEY §3.3 — build the snapshot if absent, register the bucketed
    # tables, route all model loads at the materialized layout.
    t_w = time.time()
    use_snapshot = not os.environ.get("SPARK_GRAFT_NO_SNAPSHOT")
    if use_snapshot:
        repo = os.path.dirname(os.path.abspath(__file__))
        base = os.environ.get(
            deployment.SNAPSHOT_ENV,
            os.path.join(repo, ".snapshot", os.path.basename(sf_dir.rstrip("/"))),
        )
        deployment.ensure_snapshot(spark, sf_dir, base)
        model.clear_derived_cache()  # re-route memo at the snapshot
    else:
        model.om_keys(spark, sf_dir).count()
        model.om_events(spark, sf_dir).count()
        model.dedup_corpus(spark, sf_dir).count()
    warmup = round(time.time() - t_w, 3)

    # Contention calibration (VERDICT r7 #5): run the fixed reference
    # job at start AND end; the pair lets judges normalize the headline
    # total for tenant load instead of eyeballing "uniform inflation".
    calib_start = calibration_run(spark)

    # The registered dp_minhash_pairs runs the engine-portable md5 hash
    # family (DuckDB-replayable correctness twin). The xxhash64 family —
    # identical plan, cheaper lanes, the 100 TB path — is benched
    # alongside as dp_minhash_pairs_fast so the scale number stays
    # visible (see BENCH_NOTES.md).
    from hadoop_ozone_spark.datapipe import dedup as _dedup

    # Distinct scratch tags: the fast twins are plan-distinct from the
    # portable registrations, and the interleaved A/B schedule below
    # would otherwise evict the shared tag's cached generation on every
    # alternation (measured 5x inflation on dp_minhash_pairs).
    def _minhash_fast(spark, sf_dir):
        return _dedup.minhash_dedup_pairs(
            model.dedup_corpus(spark, sf_dir),
            threshold=0.5,
            scratch_tag="minhash_dedup_pairs_fast",
        )

    def _dup_spans_fast(spark, sf_dir):
        return _dedup.dup_spans(
            model.dedup_corpus(spark, sf_dir), scratch_tag="dup_spans_fast"
        )

    _FAST_TWINS = {
        "dp_minhash_pairs_fast": _minhash_fast,
        "dp_dup_spans_fast": _dup_spans_fast,
    }

    # Contract twin pairs (VERDICT r8 #4): portable-vs-fast variants of
    # the same plan are measured INTERLEAVED (A,B,A,B,A,B) so ordering
    # noise — cache/GC state drifting between the two back-to-back
    # 3-run blocks — can't invert the contract reading. Both variants
    # see the identical session-state progression; twin_pairs in the
    # artifact records the delta next to the per-variant repeat spread.
    TWIN_PAIRS = {
        "dp_minhash_pairs": "dp_minhash_pairs_fast",
        "dp_dup_spans": "dp_dup_spans_fast",
    }

    timings: dict[str, float] = {}
    colds: dict[str, float] = {}
    spreads: dict[str, float] = {}
    twin_stats: dict[str, dict] = {}
    floor_profile: dict[str, dict] = {}
    # previous run's recorded floor medians (ADVICE r11's drift flag);
    # absent file / stale schema just means no flag this run
    _prev_floor_medians: dict[str, float] = {}
    try:
        with open("artifacts/bench_headline.json") as fh:
            _prev = json.load(fh).get("floor_profile", {})
        _prev_floor_medians = {
            k: v.get("median_sec", 0.0) for k, v in _prev.items()
        }
    except Exception:
        pass

    def _record(name: str, runs: list[float], n: int) -> None:
        cold, warm = runs[0], runs[1:]
        best = min(warm)
        timings[name] = round(best, 3)
        colds[name] = round(cold, 3)
        spreads[name] = (
            round((max(warm) - best) / best * 100, 1) if best > 0 else 0.0
        )
        print(
            f"# {name}: {best:.2f}s steady (cold {cold:.2f}s, "
            f"{spreads[name]:.0f}% repeat spread, {n} rows)",
            file=sys.stderr,
        )

    handled: set[str] = set()
    for name in HEADLINE:
        if name in handled:
            continue
        pair = [name]
        if name in TWIN_PAIRS and TWIN_PAIRS[name] in HEADLINE:
            pair.append(TWIN_PAIRS[name])
            handled.add(TWIN_PAIRS[name])
        runs: dict[str, list[float]] = {v: [] for v in pair}
        rows: dict[str, int] = {}
        # twin pairs get one extra interleaved round: the contract delta
        # (a few % at sf0.1) needs 3 steady samples per variant to sit
        # reliably inside the recorded pair noise; the broadcast-floor
        # planes get 5 steady runs for the median profile
        if len(pair) == 2:
            n_runs = RUNS_PER_QUERY + 1
        elif name in FLOOR_PROFILE:
            n_runs = 1 + FLOOR_PROFILE_STEADY
        else:
            n_runs = RUNS_PER_QUERY
        for _ in range(n_runs):
            for variant in pair:
                fn = _FAST_TWINS.get(variant) or qs[variant]
                t0 = time.time()
                rows[variant] = fn(spark, sf_dir).count()
                runs[variant].append(time.time() - t0)
        for variant in pair:
            _record(variant, runs[variant], rows[variant])
            if variant in FLOOR_PROFILE:
                warm = sorted(runs[variant][1:])
                med = warm[len(warm) // 2]
                floor_profile[variant] = {
                    "steady_runs_sec": [round(r, 3) for r in runs[variant][1:]],
                    "median_sec": round(med, 3),
                    "min_sec": round(warm[0], 3),
                    "spread_pct": round(
                        (warm[-1] - warm[0]) / warm[0] * 100, 1
                    )
                    if warm[0] > 0
                    else 0.0,
                }
                prev = _prev_floor_medians.get(variant)
                if prev and prev > 0:
                    ratio = med / prev
                    floor_profile[variant]["prev_median_sec"] = prev
                    floor_profile[variant]["median_vs_prev"] = round(ratio, 2)
                    # the median-drift flag (ADVICE r11): the floor
                    # treatment never hides a >= 2x median move
                    if ratio >= FLOOR_MEDIAN_DRIFT_FLAG:
                        floor_profile[variant]["median_drift_flag"] = True
        if len(pair) == 2:
            portable, fast = pair
            base = timings[portable]
            twin_stats[portable] = {
                "portable_sec": timings[portable],
                "fast_sec": timings[fast],
                "fast_minus_portable_pct": (
                    round((timings[fast] - base) / base * 100, 1)
                    if base > 0
                    else 0.0
                ),
                "pair_noise_pct": max(spreads[portable], spreads[fast]),
                "interleaved": True,
            }
    calib_end = calibration_run(spark)
    total = round(sum(timings.values()), 3)
    # Artifact robustness (VERDICT r7 #2): the driver parses a JSON line
    # out of the LAST ~2000 chars of stdout — round 7's 70-query line
    # overflowed that window and left BENCH_r07 `parsed: null`. So:
    # (a) the FULL headline payload (3-decimals, cold, spread,
    #     calibration) is written to artifacts/bench_headline.json, and
    # (b) stdout carries ONE compact JSON line guaranteed < 1900 bytes:
    #     2-decimal timings, and if the headline set ever outgrows the
    #     budget the FASTEST queries are trimmed from the line (never
    #     the file), with queries_omitted recording the trim.
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warmup_sec": warmup,
        "calibration_sec": round((calib_start + calib_end) / 2, 3),
        "calibration_start_sec": calib_start,
        "calibration_end_sec": calib_end,
        "snapshot_read_path": use_snapshot,
        "cold_sec": colds,
        "spread_pct": spreads,
        "twin_pairs": twin_stats,
        "floor_profile": floor_profile,
        "sf": sf,
    }
    # Detail goes to an untracked artifacts/ dir (ADVICE r5: writing the
    # git-tracked repo-root file on every run churned a committed
    # artifact); commit a snapshot deliberately if a round needs one.
    repo = os.path.dirname(os.path.abspath(__file__))
    art = os.path.join(repo, "artifacts")
    os.makedirs(art, exist_ok=True)
    with open(os.path.join(art, "bench_details.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    with open(os.path.join(art, "bench_headline.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    def _stdout_line(n_keep: int) -> str:
        kept = set(
            k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:n_keep]
        )
        payload = {
            "metric": "headline_queries_total_sec",
            "value": round(total, 2),
            "unit": "sec",
            "queries": {
                k: round(v, 2) for k, v in timings.items() if k in kept
            },
            "warmup_sec": round(warmup, 2),
            "calibration_sec": detail["calibration_sec"],
            "sf": sf,
        }
        omitted = len(timings) - len(kept)
        if omitted:
            payload["queries_omitted"] = omitted
            payload["full"] = "artifacts/bench_headline.json"
        return json.dumps(payload, separators=(",", ":"))

    n_keep = len(timings)
    line = _stdout_line(n_keep)
    while len(line) > 1900 and n_keep > 10:
        n_keep -= 5
        line = _stdout_line(n_keep)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
