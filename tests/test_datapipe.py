"""Datapipe operators: dedup finds the injected duplicates, minhash
candidates cover exact-jaccard truth, ANN recall, multimodal batch path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_ozone_spark import model
from hadoop_ozone_spark.datapipe import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return model.dedup_corpus(spark, sf_dir).cache()


def test_exact_dedup_finds_injected_copies(spark, sf_dir):
    corpus = model.dedup_corpus(spark, sf_dir)
    groups = dedup.exact_dedup_groups(corpus).collect()
    docs = model.load(spark, sf_dir, "documents")
    expected = docs.filter(F.col("doc_id") % 7 == 0).count()
    assert len(groups) == expected
    assert all(g["n_copies"] == 2 for g in groups)
    # canonical is always the original, not the +2M copy
    assert all(g["canonical_doc_id"] < 2_000_000 for g in groups)


def test_minhash_candidates_cover_exact_truth(corpus):
    """LSH candidates must contain every true high-jaccard pair
    (recall check at threshold 0.5 — bands tuned for ≳0.6)."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.7).collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_dedup_pairs(corpus, threshold=0.7).collect()
    }
    assert truth, "expected injected near-dups to produce pairs"
    missed = truth - mh
    assert len(missed) <= max(1, len(truth) // 10)  # ≥90% recall


def test_simhash_near_dups(corpus):
    pairs = dedup.simhash_pairs(corpus, max_hamming=4).collect()
    # injected near-copies differ by two tokens → tiny hamming distance
    near = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert any(b - a == 1_000_000 for a, b in near)


def test_simhash_chunk_layout_scale_guarantees():
    """Blocking chunks must (a) partition all 128 bits, (b) outnumber
    max_hamming (pigeonhole recall), (c) never exceed 16 bits — the
    bucket-count floor that keeps candidates Θ(N²/65536) per chunk."""
    for h in (1, 3, 4, 7, 10):
        layout = dedup.simhash_chunk_layout(h)
        assert sum(w for _, w in layout) == dedup.SIMHASH_BITS
        assert len(layout) > h
        assert all(1 <= w <= 16 for _, w in layout)
        starts = [s for s, _ in layout]
        assert starts == sorted(starts) and starts[0] == 0


def test_minhash_portable_family_matches_fast(corpus):
    """The md5 (oracle-replayable) and xxhash64 (scale) hash families
    share every plan stage; after exact-Jaccard verification both must
    emit the SAME verified pair set."""
    fast = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_dedup_pairs(corpus, threshold=0.5).collect()
    }
    portable = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_dedup_pairs(corpus, threshold=0.5, portable=True).collect()
    }
    assert fast and fast == portable


def test_ann_bucketed_recall(spark, sf_dir):
    emb = model.load(spark, sf_dir, "embeddings").cache()
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qvec"))
    brute = [r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=5).collect()]
    bucketed = [r["vec_id"] for r in similarity.bucketed_topk(emb, q, k=5).collect()]
    # query itself (cosine 1.0) must be found by both
    assert brute[0] == 7
    assert bucketed[0] == 7


def test_ann_ivf_full_probe_equals_brute(spark, sf_dir):
    """nprobe == n_lists degenerates to exact search: every list is
    scanned, so the result must equal brute force row-for-row."""
    emb = model.load(spark, sf_dir, "embeddings").cache()
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qvec"))
    brute = [tuple(r) for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    full = [
        tuple(r)
        for r in similarity.ivf_topk(emb, q, k=10, n_lists=16, nprobe=16).collect()
    ]
    assert full == brute


def test_ann_ivf_partial_probe_finds_query(spark, sf_dir):
    emb = model.load(spark, sf_dir, "embeddings").cache()
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qvec"))
    got = similarity.ivf_topk(emb, q, k=5, n_lists=16, nprobe=4).collect()
    # the query vector's own list is always the best-scored probe, so
    # the query itself (cosine 1.0) must surface first
    assert got[0]["vec_id"] == 7
    assert len(got) == 5


def test_ann_ivf_index_partitions_complete(spark, sf_dir):
    emb = model.load(spark, sf_dir, "embeddings")
    idx = similarity.ivf_index(emb, n_lists=16)
    assert idx.count() == emb.count()  # every vector lands in exactly one list
    assert idx.select("list_id").distinct().count() <= 16


def test_media_features_batch_path(spark, sf_dir):
    media = multimodal.synthesize_media(model.load(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    assert all(r["n_bytes"] > 0 and 0.0 <= r["feat_mean"] <= 1.0 for r in rows)
    assert set(feats.columns) == {
        "doc_id", "media_type", "n_bytes", "feat_mean", "feat_max", "frame_count",
        "decoded_width", "decoded_height",
    }
    # the decoded header must agree with the synthesizer's dimensions;
    # video frame counts are COUNTED by the stream parser, not claimed
    for r in rows:
        if r["media_type"] == "audio":
            assert r["decoded_width"] == 0 and r["decoded_height"] == 0
        else:
            assert r["decoded_width"] == r["doc_id"] % 4 + 1
            assert r["decoded_height"] == r["doc_id"] % 5 + 1
        if r["media_type"] == "video":
            assert r["frame_count"] == r["doc_id"] % 30 + 1


def test_ppm_codec_is_real():
    # round-trip a hand-built P6 file, comment-tolerant header
    raster = bytes(range(2 * 3 * 3))
    ppm = b"P6\n# a comment\n3 2\n255\n" + raster
    w, h, px = multimodal.decode_ppm(ppm)
    assert (w, h) == (3, 2) and px == list(raster)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5\n3 2\n255\n" + raster)  # wrong magic
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n3 2\n255\n" + raster[:-1])  # truncated


def test_ppm_stream_codec_seeks_frames():
    # 3-frame clip with distinct rasters and per-frame geometry
    def frame(w, h, fill):
        return b"P6\n%d %d\n255\n" % (w, h) + bytes([fill]) * (w * h * 3)

    clip = frame(2, 1, 10) + frame(1, 1, 20) + frame(2, 2, 30)
    n, frames = multimodal.decode_ppm_stream(clip)
    assert n == 3 and set(frames) == {0, 1, 2}
    assert frames[1] == (1, 1, [20, 20, 20])
    # stride selection decodes only every Nth frame in one pass
    n, sampled = multimodal.decode_ppm_stream(clip, stride=2)
    assert n == 3 and set(sampled) == {0, 2}
    assert sampled[2] == (2, 2, [30] * 12)
    # header-only walk (empty wanted set) still counts every frame
    n, none_decoded = multimodal.decode_ppm_stream(clip, wanted=set())
    assert n == 3 and none_decoded == {}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.decode_ppm_stream(clip[:-1])  # truncated final frame


def test_frame_sample_decodes_pixels(spark, sf_dir):
    media = multimodal.synthesize_media(model.load(spark, sf_dir, "documents"))
    out = multimodal.frame_sample(media, every_nth=10)
    rows = out.collect()
    docs = {r["doc_id"]: r for r in model.load(spark, sf_dir, "documents").collect()}
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc  # video docs exist at sf0.001
    for did, frames in list(by_doc.items())[:20]:
        fc = did % 30 + 1
        assert sorted(r["frame_idx"] for r in frames) == list(range(0, fc, 10))
        text = docs[did]["text"]
        padded = text + "=" * 89
        for r in frames:
            w, h = did % 4 + 1, did % 5 + 1
            assert (r["frame_w"], r["frame_h"]) == (w, h)
            npx = w * h * 3
            px = [ord(c) for c in padded[r["frame_idx"] : r["frame_idx"] + npx]]
            assert r["frame_mean"] == sum(px) / (255.0 * npx)
            assert r["frame_max"] == max(px) / 255.0


def test_lang_id_deterministic_argmax(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog of war", "en"),
         (2, "der hund und die katze", "de"),
         (3, "xyzzy plugh", "zz")],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r["predicted_lang"] for r in text.lang_id(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "unknown"}


def test_token_count_variants(spark):
    docs = spark.createDataFrame([(1, "  hello,  world! 42  ")], "doc_id long, text string")
    row = docs.select(
        text.token_count(F.col("text")).alias("ws"),
        text.token_count_bpe_ish(F.col("text")).alias("bpe"),
    ).first()
    assert row["ws"] == 3
    assert row["bpe"] > row["ws"]  # punctuation counted separately


def test_curation_pipeline_canonicalizes_and_filters(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog of war ran over the hill again today", "en"),
         (2, "the cat and the dog of war ran over the hill again today", "en"),  # dup
         (3, "xyzzy plugh foo bar baz qux quux corge grault garply", "zz"),  # no lang
         (4, "the and of", "en")],  # too short
        "doc_id long, text string, lang string",
    )
    rows = text.curation_pipeline(docs, min_tokens=5).collect()
    assert [r["doc_id"] for r in rows] == [1]  # dup 2 dropped, 3 unknown, 4 short
    assert rows[0]["predicted_lang"] == "en"


def test_curation_pipeline_filters_before_shuffle(spark, sf_dir):
    import __spark_entry__ as entry

    df = entry.queries()["dp_curation_pipeline"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # quality/lang filters must sit BELOW the window exchange so the
    # shuffle moves only surviving docs: exactly one hash exchange, and
    # a Filter appears after (deeper than) it in the plan text
    assert plan.count("Exchange hashpartitioning") == 1
    below_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "Filter" in below_exchange


def test_connected_dedup_groups_chain(spark):
    """A chain a-b, b-c plus an isolated pair d-e: the chain collapses
    to one group labeled by its minimum even though a and c never share
    an edge (the transitive step LSH pair output alone cannot do)."""
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 30)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["group_id"]
        for r in dedup.connected_dedup_groups(pairs).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 20: 20, 30: 20}


def test_connected_dedup_groups_on_corpus(corpus):
    """Docs divisible by 70 have BOTH an exact copy (+2M) and a near
    copy (+1M) — the three must land in one group keyed by the base id."""
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.5)
    labels = {
        r["doc_id"]: r["group_id"]
        for r in dedup.connected_dedup_groups(pairs).collect()
    }
    base = next(d for d in labels if d < 1_000_000 and d % 70 == 0)
    assert labels[base] == base
    assert labels.get(base + 1_000_000) == base
    assert labels.get(base + 2_000_000) == base


def test_ngram_jaccard_fence_refuses_large_corpus(corpus):
    """The quadratic exact-pairs operator must refuse a corpus larger
    than its max_docs fence (VERDICT r1: keep it oracle-scale only)."""
    with pytest.raises(ValueError, match="max_docs"):
        dedup.ngram_jaccard_pairs(corpus, max_docs=2)
    # explicit override still works
    assert dedup.ngram_jaccard_pairs(corpus.limit(3), max_docs=None).count() >= 0


def test_minhash_incremental_matches_batch(corpus):
    """Rolling-ingest law: pairs(corpus ∪ delta) must equal
    pairs(corpus) ∪ incremental(corpus, delta) exactly for the same
    hash family — the invariant that lets a daily ingest dedup against
    a persisted index instead of re-running the full corpus."""
    existing = corpus.filter(F.col("doc_id") < 1_000_000)
    delta = corpus.filter(F.col("doc_id") >= 1_000_000)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_dedup_pairs(corpus, portable=True).collect()
    }
    base = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_dedup_pairs(existing, portable=True).collect()
    }
    inc_rows = dedup.minhash_incremental_pairs(existing, delta, portable=True).collect()
    inc = {(r["doc_a"], r["doc_b"]) for r in inc_rows}
    assert inc and full == base | inc
    assert base.isdisjoint(inc)
    # every incremental pair touches the delta; both_delta typed correctly
    for r in inc_rows:
        assert r["doc_b"] >= 1_000_000
        expected = "delta_delta" if r["doc_a"] >= 1_000_000 else "delta_corpus"
        assert r["pair_type"] == expected


def test_minhash_incremental_prebuilt_artifacts_match(corpus):
    """The O(|delta|) contract: passing the write-time corpus artifacts
    (hashed-shingle table + band index) must yield exactly the pairs the
    recompute fallback yields — so a rolling ingest can keep the corpus
    text out of the per-batch plan entirely."""
    existing = corpus.filter(F.col("doc_id") < 1_000_000)
    delta = corpus.filter(F.col("doc_id") >= 1_000_000)
    ch = dedup.hashed_shingle_df(existing, portable=True).filter(F.size("h0") > 0)
    cb = dedup.band_table(
        dedup.signatures_from_hashed(ch, portable=True), portable=True
    )
    recomputed = {
        (r["doc_a"], r["doc_b"], r["pair_type"])
        for r in dedup.minhash_incremental_pairs(existing, delta, portable=True).collect()
    }
    prebuilt = {
        (r["doc_a"], r["doc_b"], r["pair_type"])
        for r in dedup.minhash_incremental_pairs(
            existing, delta, portable=True, corpus_hashed=ch, corpus_bands=cb
        ).collect()
    }
    assert prebuilt == recomputed and prebuilt


def test_repetition_features_detects_loops(spark):
    rows = [
        (1, "a b c d e f g h i j"),                 # all distinct
        (2, "spam spam spam spam spam spam"),       # degenerate loop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_features(df).collect()}
    assert got[1]["dup_3gram_frac"] == 0.0
    assert got[1]["distinct_token_ratio"] == 1.0
    assert got[1]["top_token_share"] == 0.1
    assert got[2]["dup_3gram_frac"] > 0.7           # 4 grams, 1 distinct
    assert got[2]["distinct_token_ratio"] == 1 / 6
    assert got[2]["top_token_share"] == 1.0


def test_pii_redact_counts_and_text(spark):
    rows = [(1, "mail me at bob@x.org or sue@y.io, call 555-123-4567 ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = text.pii_redact(df).collect()[0]
    assert r["n_emails"] == 2 and r["n_phones"] == 1
    assert "bob@x.org" not in r["redacted_text"]
    assert "<EMAIL>" in r["redacted_text"] and "<PHONE>" in r["redacted_text"]


def test_decontaminate_flags_leaked_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated content about spark and parquet files"),
            (3, "the quick brown fox appears here too with more words"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "bench_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.decontaminate(docs, bench, min_hits=2).collect()}
    assert got[1]["contaminated"] and got[1]["hit_benchmark_id"] == 100
    assert not got[2]["contaminated"] and got[2]["n_hits"] == 0
    assert got[3]["contaminated"]  # shares 'the quick brown' + 'quick brown fox'


def test_knn_join_recall(spark, sf_dir):
    """Batch kNN join: multi-probe bucketed results must recover the
    exact top-5 of every query at radius 1 on CLUSTERED vectors (the
    realistic embedding regime; the driver's uniform-random embeddings
    are LSH's documented no-structure worst case and measure nothing —
    see BENCH_NOTES). Deterministic 50-cluster corpus."""
    centroid = "cast(pmod(hash((id % 50) * 31 + d), 2001) - 1000 as double) / 1000.0"
    noise = "cast(pmod(hash(id * 131 + d), 401) - 200 as double) / 2000.0"
    emb = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.expr(f"transform(sequence(0, 31), d -> cast({centroid} + {noise} as float))").alias("embedding"),
    ).cache()
    queries = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    brute = similarity.knn_join_brute(emb, queries, k=5).collect()
    approx = similarity.knn_join_bucketed(emb, queries, k=5, probe_radius=1).collect()
    want = {(r["query_id"], r["vec_id"]) for r in brute}
    got = {(r["query_id"], r["vec_id"]) for r in approx}
    n_queries = queries.count()
    assert len(want) == 5 * n_queries
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"recall {recall}"
    # the query vector itself (cosine 1.0, rank 1) is always found
    for r in approx:
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"] and r["cosine_sim"] == 1.0


def test_mixture_sample_deterministic_and_gated(spark):
    from hadoop_ozone_spark.datapipe import packing

    docs = spark.createDataFrame(
        [(i, "tok " * 5 + "end", "a" if i % 2 == 0 else "b") for i in range(200)],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in packing.mixture_sample(
        docs, {"a": 1.0, "b": 0.0}).collect()}
    # rate 1.0 keeps every doc, rate 0.0 (and unknown sources) keep none
    assert out["a"]["n_docs"] == 100 and "b" not in out
    assert out["a"]["n_tokens"] == 100 * 6
    # hash-draw is reproducible
    half = {r["source"]: r["n_docs"] for r in packing.mixture_sample(
        docs, {"a": 0.5, "b": 0.5}).collect()}
    again = {r["source"]: r["n_docs"] for r in packing.mixture_sample(
        docs, {"a": 0.5, "b": 0.5}).collect()}
    assert half == again
    assert 0 < half["a"] < 100 and 0 < half["b"] < 100


def test_pack_plan_fills_windows_in_order(spark):
    from hadoop_ozone_spark.datapipe import packing

    # 10 docs x 4 tokens, context 10 → bins at cum 0,4,8|12,16|20,...:
    # a doc spanning a boundary belongs to the bin where it STARTS
    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(10)], "doc_id long, text string"
    )
    rows = packing.pack_plan(docs, context_len=10, shard_size=100).collect()
    assert [(r["bin"], r["n_docs"], r["first_doc"], r["last_doc"]) for r in rows] == [
        (0, 3, 0, 2),   # cum_before 0,4,8
        (1, 2, 3, 4),   # 12,16
        (2, 3, 5, 7),   # 20,24,28
        (3, 2, 8, 9),   # 32,36
    ]
    # shards pack independently: same docs split across 2 shards
    rows2 = packing.pack_plan(docs, context_len=10, shard_size=5).collect()
    shards = {r["shard"] for r in rows2}
    assert shards == {0, 1}
    assert sum(r["n_docs"] for r in rows2) == 10


# --- round-4 curation ops: chunk dedup, unigram quality, train order ------

def test_chunk_dedup_flags_partial_copies(spark):
    a_body = " ".join(f"w{i}" for i in range(40))           # 2 full chunks
    docs = spark.createDataFrame(
        [
            (1, a_body),
            (2, a_body + " tail1 tail2 tail3"),             # partial copy
            (3, " ".join(f"u{i}" for i in range(45))),      # unrelated
            (4, "short doc under twenty tokens"),           # 0 chunks
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.chunk_dedup(docs, chunk_tokens=20).collect()}
    assert out[1].n_chunks == 2 and out[1].boilerplate_chunks == 2
    assert out[2].n_chunks == 2 and out[2].boilerplate_chunks == 2
    assert out[3].boilerplate_chunks == 0
    assert out[4].n_chunks == 0 and out[4].boilerplate_chunks == 0


def test_unigram_freq_score_exact_law(spark):
    # corpus: 'a' ×3, 'b' ×2, 'c' ×1 → N=6
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.unigram_freq_score(docs).collect()}
    # doc1: sum_cnt = 3+3+2 = 8; ppm = 8e6 div (3·6) = 444444
    assert out[1].mean_token_freq_ppm == 8_000_000 // 18
    # doc2: sum_cnt = 3+2+1 = 6; ppm = 6e6 div 18 = 333333
    assert out[2].mean_token_freq_ppm == 6_000_000 // 18
    assert out[1].n_tokens == 3 and out[2].n_tokens == 3


def test_train_order_is_a_reproducible_permutation(spark):
    from hadoop_ozone_spark.datapipe import packing

    docs = spark.createDataFrame([(i, "x") for i in range(200)], "doc_id long, text string")
    a = packing.train_order(docs, n_shards=4, seed="s1").collect()
    b = packing.train_order(docs, n_shards=4, seed="s1").collect()
    assert a == b  # reproducible
    assert sorted(r.doc_id for r in a) == list(range(200))  # a permutation
    per_shard = {}
    for r in a:
        per_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in per_shard.items():
        assert poss == list(range(1, len(poss) + 1))  # dense in-shard order
    c = packing.train_order(docs, n_shards=4, seed="s2").collect()
    assert [r.doc_id for r in c] != [r.doc_id for r in a]  # new epoch order


def test_split_assign_is_disjoint_and_stratified(spark):
    from hadoop_ozone_spark.datapipe import packing

    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 2), "tok tok tok") for i in range(400)],
        "doc_id long, source string, text string",
    )
    out = packing.split_assign(docs, train=0.8, val=0.1)
    rows = out.collect()
    assert sum(r.n_docs for r in rows) == 400  # every doc in exactly one split
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert by_split["train"] > by_split.get("val", 0)
    assert rows == packing.split_assign(docs, train=0.8, val=0.1).collect()


def test_split_leakage_matches_python_replay(spark):
    # pure-Python replay of both laws (split lane + fingerprint) on a
    # corpus with planted exact twins across many doc_id lanes
    import hashlib
    from collections import Counter, defaultdict

    from hadoop_ozone_spark.datapipe import packing

    rows = []
    for i in range(300):
        rows.append((i, "dup text %d" % (i % 50)))  # 50 texts × 6 copies
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def py_split(doc_id: int) -> str:
        lane = int(hashlib.md5(f"split42#{doc_id}".encode()).hexdigest()[:15], 16)
        u = (lane % 1_000_000) / 1_000_000.0
        return "train" if u < 0.8 else ("val" if u < 0.9 else "test")

    per_fp = defaultdict(lambda: (set(), 0))
    for doc_id, txt in rows:
        fp = hashlib.md5(txt.encode()).hexdigest()
        s, n = per_fp[fp]
        per_fp[fp] = (s | {py_split(doc_id)}, n + 1)
    expect_fps, expect_docs = Counter(), Counter()
    for s, n in per_fp.values():
        if len(s) >= 2:
            combo = "+".join(sorted(s))
            expect_fps[combo] += 1
            expect_docs[combo] += n

    got = packing.split_leakage(docs).collect()
    assert {r.splits: r.n_fingerprints for r in got} == dict(expect_fps)
    assert {r.splits: r.n_docs for r in got} == dict(expect_docs)
    assert got  # 6 copies per text make straddling certain somewhere


def test_split_leakage_empty_on_distinct_corpus(spark):
    from hadoop_ozone_spark.datapipe import packing

    docs = spark.createDataFrame(
        [(i, "unique text %d" % i) for i in range(100)],
        "doc_id long, text string",
    )
    assert packing.split_leakage(docs).count() == 0


def test_quality_sweep_ladder_and_monotone(spark):
    # 3 stopword-free docs + 2 all-stopword docs: rung 0 keeps all,
    # every rung >= 1 keeps exactly the all-stopword docs
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "omega psi chi"),
            (3, "zeta eta theta iota"),
            (4, "the and of the"),
            (5, "the the and and of"),
        ],
        "doc_id long, text string",
    )
    out = text.quality_threshold_sweep(docs).collect()
    assert [r.threshold_ppm for r in out] == [i * 20_000 for i in range(10)]
    assert (out[0].n_docs_kept, out[0].n_tokens_kept) == (5, 20)
    assert out[0].docs_kept_ppm == 1_000_000
    for r in out[1:]:
        assert (r.n_docs_kept, r.n_tokens_kept) == (2, 9)
        assert r.docs_kept_ppm == 400_000
    kept = [r.n_docs_kept for r in out]
    assert kept == sorted(kept, reverse=True)  # monotone non-increasing


def test_quality_sweep_counts_null_text_docs(spark):
    # ADVICE r7: NULL-text docs must land in rung 0 (coalesced to ''),
    # not silently vanish from total_docs
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "the and of")],
        "doc_id long, text string",
    )
    out = text.quality_threshold_sweep(docs).collect()
    assert out[0].n_docs_kept == 3  # rung 0 keeps ALL docs, NULL included
    for r in out[1:]:
        assert r.n_docs_kept == 1  # only the all-stopword doc clears
    # total_docs denominator includes the NULL doc: 1/3 surviving
    assert out[1].docs_kept_ppm == 333_333


def test_dedup_clusters_transitive_chain(spark):
    from hadoop_ozone_spark.datapipe import dedup

    # path graph 1-2-3-...-10 (diameter 9): pair-level grouping can't
    # see 1~10; CC must put all ten in cluster 1 and converge within
    # the iteration budget
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)] + [(20, 21)],
        "doc_a long, doc_b long",
    )
    rows = dedup.dedup_clusters(pairs).collect()
    got = {r.doc_id: (r.cluster_id, r.cluster_size, r.keep) for r in rows}
    assert {d for d, v in got.items() if v[0] == 1} == set(range(1, 11))
    assert all(got[d] == (1, 10, d == 1) for d in range(1, 11))
    assert got[20] == (20, 2, True) and got[21] == (20, 2, False)


def test_dedup_clusters_matches_union_find_replay(spark, sf_dir):
    from hadoop_ozone_spark.datapipe import dedup
    from hadoop_ozone_spark import model

    pairs_df = dedup.minhash_dedup_pairs(
        model.dedup_corpus(spark, sf_dir), threshold=0.5, portable=True
    )
    pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
    assert pairs  # injected twins guarantee a non-trivial graph
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for node in parent:
        expected.setdefault(find(node), set()).add(node)
    got = {}
    for r in dedup.dedup_clusters(pairs_df).collect():
        got.setdefault(r.cluster_id, set()).add(r.doc_id)
        assert r.keep == (r.doc_id == r.cluster_id)
        assert r.cluster_size == len(expected[r.cluster_id])
    assert got == {min(m): m for m in expected.values()}


def test_dedup_clusters_incremental_equals_batch(spark, sf_dir):
    from hadoop_ozone_spark.datapipe import dedup
    from hadoop_ozone_spark import model

    corpus = model.dedup_corpus(spark, sf_dir)
    old = corpus.filter(F.col("doc_id") < 1_000_000)
    delta = corpus.filter(F.col("doc_id") >= 1_000_000)
    batch = dedup.dedup_clusters(
        dedup.minhash_dedup_pairs(corpus, threshold=0.5, portable=True)
    )
    prior = dedup.dedup_clusters(
        dedup.minhash_dedup_pairs(old, threshold=0.5, portable=True)
    )
    incr = dedup.dedup_clusters_incremental(
        prior,
        dedup.minhash_incremental_pairs(old, delta, threshold=0.5, portable=True),
    )
    key = lambda r: (r.doc_id, r.cluster_id, r.cluster_size, r.keep)
    assert sorted(map(key, incr.collect())) == sorted(map(key, batch.collect()))


def test_datasheet_matches_python_replay(spark):
    import hashlib

    corpus = [
        # src_a: 3 docs, one exact-dup pair, 2 langs
        (1, "the cat sat", "en", "src_a"),
        (2, "the cat sat", "en", "src_a"),
        (3, "der hund und katze lief schnell", "de", "src_a"),
        # src_b: 4 docs incl. a NULL text
        (4, "a b c d e f g h i j", "en", "src_b"),
        (5, "one two", "en", "src_b"),
        (6, None, "fr", "src_b"),
        (7, "x y z", "es", "src_b"),
    ]
    docs = spark.createDataFrame(
        corpus, "doc_id long, text string, lang string, source string"
    )
    got = {r.source: r.asDict() for r in text.dataset_datasheet(docs).collect()}
    stop = {"the", "and", "of"}
    expected = {}
    for src in ("src_a", "src_b"):
        rows = [(d, t or "") for d, t, _, s in corpus if s == src]
        toks = {d: t.split() for d, t in rows}
        # NULL text coalesces to '' whose whitespace-split is [''] (1 token)
        ntok = {d: len(t) if t else 1 for d, t in toks.items()}
        n = len(rows)
        q = [len([w for w in toks[d] if w in stop]) * 1_000_000 // max(ntok[d], 1) for d, _ in rows]
        order = sorted((ntok[d], d) for d, _ in rows)
        p50 = order[(n + 1) // 2 - 1][0]
        p90 = order[(9 * n + 9) // 10 - 1][0]
        expected[src] = {
            "n_docs": n,
            "n_tokens": sum(ntok.values()),
            "n_langs": len({l for _, t, l, s in corpus if s == src}),
            "dup_rate_ppm": (n - len({hashlib.md5((t or "").encode()).hexdigest() for _, t, _, s in corpus if s == src})) * 1_000_000 // n,
            "mean_quality_ppm": sum(q) // n,
            "p50_tokens": p50,
            "p90_tokens": p90,
        }
    for src, exp in expected.items():
        for k, v in exp.items():
            assert got[src][k] == v, (src, k, got[src][k], v)


def test_pmi_collocations_matches_python_replay(spark):
    import math
    from collections import Counter

    corpus = [
        (1, "new york new york city"),
        (2, "new york is a city"),
        (3, "york new haven city new"),
        (4, "a b a b a b a b"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r.w1, r.w2, r.c12, r.pmi_ppm)
        for r in text.pmi_collocations(docs, min_count=2, top_n=5).collect()
    ]
    bg = []
    for _, t in corpus:
        w = t.split()
        bg += list(zip(w, w[1:]))
    c12, c1, c2, t = Counter(bg), Counter(a for a, _ in bg), Counter(
        b for _, b in bg
    ), len(bg)
    exp = [
        (w1, w2, n, round(math.log(n * t / (c1[w1] * c2[w2])) * 1_000_000))
        for (w1, w2), n in c12.items()
        if n >= 2
    ]
    exp.sort(key=lambda r: (-r[3], r[0], r[1]))
    assert got == exp[:5]


def test_winnow_matches_python_replay_and_guarantee(spark):
    import hashlib

    def lane(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # two docs sharing a 7-token run (= k + w - 1, the guarantee
    # threshold) plus unique tails; a third unrelated doc
    shared = "alpha beta gamma delta epsilon zeta eta"
    corpus = [
        (1, shared + " one two three four five"),
        (2, "x1 x2 x3 " + shared + " y1 y2"),
        (3, "p q r s t u v w"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    k, w = 4, 4
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in dedup.winnow_fingerprints(docs, k=k, w=w, portable=True).collect()
    }
    expected = set()
    for d, txt in corpus:
        t = txt.split()
        grams = [
            (i + 1, lane(" ".join(t[i : i + k])))
            for i in range(len(t) - k + 1)
        ]
        for i in range(w - 1, len(grams)):
            window = grams[i - w + 1 : i + 1]
            m = min(h for _, h in window)
            pos = max(p for p, h in window if h == m)  # rightmost tie
            expected.add((d, pos, m))
    assert got == expected
    # the (k + w - 1)-token guarantee: docs 1 and 2 share a fingerprint
    fps = {d: {fp for dd, _, fp in got if dd == d} for d in (1, 2, 3)}
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # and the pair report surfaces exactly the (1, 2) pair
    rep = dedup.winnow_similarity_report(
        docs, k=k, w=w, portable=True, min_shared=1
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in rep] == [(1, 2)]
    assert rep[0].n_shared == len(fps[1] & fps[2])


def test_bm25_matches_python_replay(spark):
    import math

    corpus = [
        (1, "hash join hash join hash"),
        (2, "hash join scan"),
        (3, "scan filter fast fast"),
        (4, "table merge batch batch table"),
        (5, "the quick brown fox"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    queries = (("qa", "hash join"), ("qb", "fast scan"))
    got = [
        (r.query_id, r.doc_id, r.score_ppm, r.n_terms, r.rank)
        for r in text.bm25_topk(docs, queries=queries, k=3).collect()
    ]
    # pure-Python BM25 with the same ppm quantization law
    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in corpus}
    n, total = len(corpus), sum(len(t) for t in toks.values())
    df = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    expected = []
    for qid, qtext in queries:
        scores = {}
        for d, t in toks.items():
            ppm = 0
            hits = 0
            for term in sorted(set(qtext.split())):
                tf = t.count(term)
                if not tf:
                    continue
                hits += 1
                idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
                norm = k1 * (1.0 - b + b * len(t) * n / total)
                ppm += round(idf * tf * (k1 + 1.0) / (tf + norm) * 1_000_000)
            if hits:
                scores[d] = (ppm, hits)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:3]
        expected += [
            (qid, d, p, h, i + 1) for i, (d, (p, h)) in enumerate(ranked)
        ]
    assert got == expected
    # doc 1 (densest in both query terms) must lead qa
    assert got[0][:2] == ("qa", 1)


def test_dedup_keep_best_one_winner_per_group(spark, sf_dir):
    import __spark_entry__ as entry

    out = entry.queries()["dp_dedup_keep_best"](spark, sf_dir).collect()
    assert out
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r)
    for rows in by_group.values():
        keeps = [r for r in rows if r.keep]
        assert len(keeps) == 1
        best = keeps[0]
        # the winner has the max score; ties break to lowest doc_id
        for r in rows:
            assert (r.mean_token_freq_ppm, -r.doc_id) <= (
                best.mean_token_freq_ppm, -best.doc_id
            )


def test_chunk_dedup_matches_python_reference(spark):
    # equivalence vs a sequential statement of the windowing law on a
    # hand-mixed corpus (full windows only; df>=2 marks boilerplate)
    import hashlib
    from collections import Counter, defaultdict

    texts = {
        1: " ".join(f"w{i}" for i in range(47)),
        2: " ".join(f"w{i}" for i in range(40)) + " x y z",
        3: " ".join(f"u{i}" for i in range(25)),
        4: "tiny doc",
        5: " ".join(f"w{i}" for i in range(20)),   # equals doc1/doc2 chunk 0
    }
    k = 20

    def ref():
        chunks = defaultdict(list)     # doc -> [hash]
        for d, t in texts.items():
            toks = t.split()
            for i in range(len(toks) // k):
                blob = " ".join(toks[i * k:(i + 1) * k])
                chunks[d].append(hashlib.md5(blob.encode()).hexdigest())
        df = Counter()
        for d, hs in chunks.items():
            for h in set(hs):
                df[h] += 1
        out = {}
        for d, t in texts.items():
            hs = chunks.get(d, [])
            out[d] = (len(t.split()) // k, sum(1 for h in hs if df[h] >= 2))
        return out

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chunks, r.boilerplate_chunks)
        for r in text.chunk_dedup(docs, chunk_tokens=k, min_docs=2).collect()
    }
    assert got == ref()


def test_budget_sample_rate_regimes(spark):
    from hadoop_ozone_spark.datapipe import packing

    docs = spark.createDataFrame(
        [(i, "a" if i < 100 else "b", "t " * 10) for i in range(200)],
        "doc_id long, source string, text string",
    )
    # a: total 1000 tokens, budget 2000 → rate capped at 1.0 (all kept)
    # b: total 1000 tokens, budget 100 → rate 0.1
    out = {r.source: r for r in packing.budget_sample(
        docs, {"a": 2000, "b": 100}).collect()}
    assert out["a"].n_docs == 100 and out["a"].rate_ppm == 1_000_000
    assert out["b"].rate_ppm == 100_000
    assert 0 < out["b"].n_docs < 100        # ~10% drawn
    # reproducible
    again = {r.source: r.n_docs for r in packing.budget_sample(
        docs, {"a": 2000, "b": 100}).collect()}
    assert again == {s: r.n_docs for s, r in out.items()}


def test_semantic_dedup_finds_every_injected_duplicate(spark, sf_dir):
    """SemDeDup recall pin: the corpus injects one scaled copy
    (vec_id + 1e6, cosine exactly 1.0) per vec_id % 10 == 0 — the
    cluster-bounded detector must flag EVERY copy and attribute it to
    its source (the min-id keeper law), despite never comparing across
    clusters: a copy always lands in its source's cluster because
    scaling preserves all centroid cosines."""
    corpus = model.embedding_corpus(spark, sf_dir)
    n_copies = corpus.filter(F.col("vec_id") >= 1_000_000).count()
    dups = similarity.semantic_dedup_pairs(corpus, n_lists=16, threshold=0.9)
    rows = dups.collect()
    flagged = {r.vec_id: r for r in rows}
    # every injected copy flagged, attributed to its exact source
    copies = [r.vec_id for r in corpus.filter(
        F.col("vec_id") >= 1_000_000).select("vec_id").collect()]
    assert len(copies) == n_copies and n_copies > 0
    for cid in copies:
        assert cid in flagged, f"injected duplicate {cid} not flagged"
        assert flagged[cid].dup_of == cid - 1_000_000
        assert flagged[cid].cosine_sim == 1.0


def test_trained_codebook_drops_into_semantic_dedup(spark, sf_dir):
    """train_centroids (Lloyd iterations over the seed codebook) slots
    into semantic_dedup_pairs via the centroids argument without
    changing the plan or the recall guarantee: every injected scaled
    copy is still flagged against its exact source (a copy's centroid
    cosines equal its source's, so they always share a cluster under
    ANY codebook)."""
    corpus = model.embedding_corpus(spark, sf_dir)
    trained = similarity.train_centroids(corpus, n_lists=8, iters=2)
    assert trained.count() == 8
    dups = similarity.semantic_dedup_pairs(
        corpus, n_lists=8, threshold=0.9, centroids=trained
    )
    flagged = {r.vec_id: r.dup_of for r in dups.collect()}
    copies = [r.vec_id for r in corpus.filter(
        F.col("vec_id") >= 1_000_000).select("vec_id").collect()]
    assert copies and all(
        flagged.get(cid) == cid - 1_000_000 for cid in copies
    )


def test_kmeans_step_moves_centroids_toward_members(spark, sf_dir):
    """A Lloyd step must re-estimate each centroid as its members'
    mean: total within-cluster assignment score (sum of members' best
    cosines) must not decrease after one step — the standard Lloyd
    monotonicity signal, evaluated on the corpus."""
    from pyspark.sql import functions as SF

    emb = model.load(spark, sf_dir, "embeddings")
    seed = similarity.ivf_centroids(emb, 8)

    def total_score(centroids):
        scored = emb.crossJoin(SF.broadcast(centroids)).select(
            "vec_id",
            similarity.cosine(
                similarity.as_double(SF.col("embedding")), SF.col("cvec")
            ).alias("s"),
        )
        return (
            scored.groupBy("vec_id").agg(SF.max("s").alias("best"))
            .agg(SF.sum("best")).collect()[0][0]
        )

    before = total_score(seed)
    stepped = similarity.kmeans_step(emb, seed).select("list_id", "cvec")
    after = total_score(stepped)
    assert after >= before - 1e-9


def test_bpe_pair_counts_argmax(spark):
    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low")],
        "doc_id long, text string",
    )
    rows = text_ops.bpe_pair_counts(docs, top_k=3).collect()
    # "lo" and "ow" appear once per word occurrence: 5 each; ties break
    # by pair asc — the canonical first BPE merge on this corpus
    assert [(r.pair, r.pair_count) for r in rows][:2] == [("lo", 5), ("ow", 5)]


def test_stratified_sample_decile_shape(spark):
    from hadoop_ozone_spark.datapipe import packing

    docs = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * i)) for i in range(1, 21)],
        "doc_id long, source string, text string",
    )
    rows = packing.stratified_quality_sample(docs).collect()
    # 20 docs, one source: ntile(10) gives 2 docs per stratum; the top
    # three strata keep everything (rate 1.0)
    assert len(rows) == 10
    assert all(r.n_docs == 2 for r in rows)
    for r in rows:
        if r.stratum >= 8:
            assert r.target_rate == 1.0 and r.n_kept == 2
        assert 0 <= r.n_kept <= r.n_docs


def test_bpe_learn_merges_matches_reference_algorithm(spark):
    """The distributed trainer replays Sennrich et al.'s pseudocode
    exactly: same merges in the same order, same final segmentation
    (ties determinized lexicographically on both sides)."""
    import collections

    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                      + ["widest"] * 3 + ["a"]))],
        "doc_id long, text string",
    )
    merges, vocab = text_ops.bpe_learn_merges(docs, n_merges=6)
    got_merges = [(r.left, r.right, r.pair_count) for r in merges.collect()]
    got_vocab = {r.word: list(r.symbols) for r in vocab.collect()}

    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "a": 1}
    v = {tuple(w): f for w, f in corpus.items()}
    ref_merges = []
    for _ in range(6):
        pc = collections.Counter()
        for syms, f in v.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        ref_merges.append((best[0], best[1], pc[best]))
        new = {}
        for syms, f in v.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = f
        v = new
    ref_vocab = {"".join(k): list(k) for k in v}
    assert got_merges == ref_merges
    assert got_vocab == ref_vocab


def test_pq_codes_shape_and_self_encoding(spark):
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    cb = sim.pq_codebooks(emb)
    assert cb.count() == 8 * 16  # m subspaces x k codes
    codes = {r.vec_id: list(r.codes) for r in sim.pq_encode(emb, cb).collect()}
    # every vector gets one code per subspace, in range
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in codes.values())
    # seed vectors quantize to themselves in every subspace
    for seed in range(16):
        assert codes[seed] == [seed] * 8


def test_pq_topk_finds_scaled_copy_first(spark):
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    top = sim.pq_topk(emb, probe_vec_id=10, k=5).collect()
    # the injected x1.01 copy shares every code -> ADC distance exactly 0
    assert top[0].vec_id == 1000010 and top[0].adc_dist == 0.0


def test_pq_training_reduces_quantization_error(spark):
    """Joint Lloyd refinement must not worsen the PQ quantization error
    (and measurably improves it on the corpus), while the trained
    codebook drops into encode/search unchanged."""
    from pyspark.sql import functions as F

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")

    def qerr(cb):
        codes = sim.pq_encode(emb, cb)
        ex = codes.select(
            "vec_id", F.posexplode("codes").alias("sub_id", "code")
        ).join(cb, ["sub_id", "code"])
        sv = emb.select(
            "vec_id", sim.as_double(F.col("embedding")).alias("v")
        ).select(
            "vec_id",
            F.explode(F.expr(
                "transform(sequence(0,7),"
                " s -> struct(s AS sub_id, slice(v, s*8+1, 8) AS svec))"
            )).alias("p"),
        ).select("vec_id", F.col("p.sub_id").alias("sub_id"),
                 F.col("p.svec").alias("svec"))
        return (
            ex.join(sv, ["vec_id", "sub_id"])
            .select(sim.l2sq(F.col("svec"), F.col("cvec")).alias("e"))
            .agg(F.sum("e")).first()[0]
        )

    e_seed = qerr(sim.pq_codebooks(emb))
    trained = sim.pq_train_codebooks(emb, iters=2)
    e_trained = qerr(trained)
    assert e_trained < e_seed
    top = sim.pq_topk(
        emb, probe_vec_id=10, k=3, index=sim.pq_encode(emb, trained)
    ).collect()
    # the x1.01 copy still shares every trained code and ranks first;
    # its ADC distance is the query's own quantization residual now
    # (exact 0 holds only while the query is a seed centroid)
    assert top[0].vec_id == 1000010
    assert top[0].adc_dist < 0.05


def test_pq_rerank_recovers_exact_l2_topk(spark):
    """Two-stage PQ: the ADC shortlist reranked with exact L2 must
    reproduce the exact L2 top-k when the shortlist covers it."""
    from pyspark.sql import functions as F

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    q = emb.filter(F.col("vec_id") == 10).select(
        sim.as_double(F.col("embedding")).alias("qv")
    )
    exact = [
        r.vec_id
        for r in emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            sim.l2sq(sim.as_double(F.col("embedding")), F.col("qv")).alias("d"),
        )
        .filter(F.col("vec_id") != 10)
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(5)
        .collect()
    ]
    got = [
        r.vec_id
        for r in sim.pq_topk(emb, probe_vec_id=10, k=5, rerank=1000).collect()
    ]
    assert got == exact


def test_ivfpq_full_probe_rerank_is_exact(spark):
    """IVFADC sanity: nprobe == n_lists covers every list, so the
    exact rerank must reproduce the exact L2 top-k (the ivf_topk
    degeneracy invariant carried over to the composed index)."""
    from pyspark.sql import functions as F

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    q = emb.filter(F.col("vec_id") == 10).select(
        sim.as_double(F.col("embedding")).alias("qv")
    )
    exact = [
        r.vec_id
        for r in emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            sim.l2sq(sim.as_double(F.col("embedding")), F.col("qv")).alias("d"),
        )
        .filter(F.col("vec_id") != 10)
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(5)
        .collect()
    ]
    got = [
        r.vec_id
        for r in sim.ivfpq_topk(
            emb, probe_vec_id=10, k=5, nprobe=16, rerank=1000
        ).collect()
    ]
    assert got == exact


def test_ivfpq_narrow_probe_finds_scaled_copy(spark):
    """With nprobe=4 the ×1.01 copy of the probe assigns to the SAME
    list (scaling preserves cosine, so identical coarse assignment) —
    it sits inside the probed set and must rank first after rerank."""
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    top = sim.ivfpq_topk(
        emb, probe_vec_id=10, k=3, nprobe=4, rerank=50
    ).collect()
    assert top[0].vec_id == 1000010


def test_ivfpq_probe_lists_matches_declarative_probe(spark):
    """The driver-known static prune (probe_lists) must return exactly
    what the declarative probe subquery returns — the two deployment
    shapes are the same law."""
    from pyspark.sql import functions as F

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
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
    declarative = sim.ivfpq_topk(emb, probe_vec_id=10, k=5, nprobe=4).collect()
    static = sim.ivfpq_topk(
        emb, probe_vec_id=10, k=5, nprobe=4, probe_lists=lists
    ).collect()
    assert [(r.vec_id, r.adc_dist) for r in declarative] == [
        (r.vec_id, r.adc_dist) for r in static
    ]


def test_ivfpq_knn_join_full_probe_rerank_is_exact(spark):
    """Batch IVFADC: with every list probed and the exact rerank, each
    query's top-k must equal its exact L2 top-k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    qs = emb.filter(F.col("vec_id").isin(10, 20)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("vec_id"))
    exact = [
        (r.query_id, r.rank, r.vec_id)
        for r in emb.crossJoin(
            F.broadcast(qs.select("query_id", sim.as_double(F.col("qvec")).alias("qv")))
        )
        .select(
            "query_id",
            "vec_id",
            sim.l2sq(sim.as_double(F.col("embedding")), F.col("qv")).alias("d"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    got = [
        (r.query_id, r.rank, r.vec_id)
        for r in sim.ivfpq_knn_join(
            emb, qs, k=5, nprobe=16, rerank=1000
        ).orderBy("query_id", "rank").collect()
    ]
    assert got == exact


def test_pq_trainer_invariant_under_partitioning(spark):
    """VERDICT r6 #8: the PQ trainer's per-component sums fold
    sequentially in vec_id order, so the trained codebooks must be
    bit-identical regardless of input partitioning."""
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import similarity as sim

    emb = model.embedding_corpus(spark, "/root/testdata/sf0.001")
    results = []
    for parts in (1, 8, 32):
        cb = sim.pq_train_codebooks(emb.repartition(parts), iters=2)
        results.append(
            sorted(
                (r.sub_id, r.code, tuple(r.cvec)) for r in cb.collect()
            )
        )
    assert results[0] == results[1] == results[2]


def test_dsir_weights_prefer_target_domain(spark):
    """Importance weights must rank docs from the target's own
    vocabulary lane above off-domain docs (the resampling premise)."""
    from pyspark.sql import functions as F

    from hadoop_ozone_spark.datapipe import text as text_ops

    # two vocab lanes: target-ish docs share words with the target set
    rows = [(i, "s", "alpha beta gamma delta epsilon") for i in range(10)]
    rows += [(100 + i, "s", "zeta eta theta iota kappa") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = spark.createDataFrame(
        [(900, "t", "alpha beta gamma beta alpha")],
        "doc_id long, source string, text string",
    )
    w = {r.doc_id: r.log_weight
         for r in text_ops.dsir_weights(docs, target).collect()}
    on_domain = sum(w[i] for i in range(10)) / 10
    off_domain = sum(w[100 + i] for i in range(10)) / 10
    assert on_domain > off_domain


def test_dsir_weights_single_token_doc(spark):
    """Regression: a single-token document must score (unigram only, no
    bigrams) rather than crash — Spark's sequence(1, 0) DESCENDS and
    slice(toks, 0, 2) throws without the <2-token guard."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = spark.createDataFrame(
        [(1, "s", "hello"), (2, "s", "alpha beta"), (3, "s", "  ")],
        "doc_id long, source string, text string",
    )
    target = spark.createDataFrame(
        [(900, "t", "alpha beta")], "doc_id long, source string, text string"
    )
    rows = {r.doc_id: r for r in text_ops.dsir_weights(docs, target).collect()}
    assert rows[1].n_grams == 1  # one unigram, zero bigrams
    assert rows[2].n_grams == 3  # 2 unigrams + 1 bigram
    assert rows[3].n_grams == 1  # split('') -> [''] — one empty token


def test_shingles_short_docs(spark):
    """Regression: docs shorter than the shingle width n must produce
    the EMPTY shingle set in every family (string, fast xxhash64,
    portable md5) rather than crash — Spark's sequence(1, 0) DESCENDS
    ([1, 0]) and slice(toks, 0, n) / element_at(th, 0) then throw.
    The trigram repetition features share the same guard."""
    from hadoop_ozone_spark.datapipe import dedup, text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "hello"),
            (2, "two words"),
            (3, "a full three plus tokens doc here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    # doc 3 has 7 tokens -> 5 trigram shingles; docs 1/2/4 contribute none
    assert dedup.shingle_table(docs).count() == 5
    for portable in (False, True):
        sizes = {
            r.doc_id: r.n
            for r in dedup.hashed_shingle_df(docs, portable=portable)
            .select("doc_id", F.size("h0").alias("n"))
            .collect()
        }
        assert sizes == {1: 0, 2: 0, 3: 5, 4: 0}
    rep = {r.doc_id: r for r in text_ops.repetition_features(docs).collect()}
    assert rep[1].dup_3gram_frac == 0.0 and rep[4].dup_3gram_frac == 0.0


def test_bpe_apply_merge_fold_property(spark):
    """Property check: the carry-fold _apply_merge equals the direct
    Python left-to-right merge for randomized symbol sequences and
    pairs (incl. overlapping runs like a,a,a with merge (a,a))."""
    import random

    from pyspark.sql import functions as F

    from hadoop_ozone_spark.datapipe import text as text_ops

    rng = random.Random(5)
    alphabet = ["a", "b", "ab", "c"]
    rows, expected = [], []
    for i in range(60):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(1, 10))]
        left, right = rng.choice(alphabet), rng.choice(alphabet)
        out, j = [], 0
        while j < len(syms):
            if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
                out.append(left + right)
                j += 2
            else:
                out.append(syms[j])
                j += 1
        rows.append((i, syms, left, right))
        expected.append((i, out))
    df = spark.createDataFrame(
        rows, "id long, syms array<string>, l string, r string"
    ).select(
        "id",
        text_ops._apply_merge(
            F.col("syms"), F.col("l"), F.col("r")
        ).alias("merged"),
    )
    got = {r.id: list(r.merged) for r in df.collect()}
    for i, out in expected:
        assert got[i] == out, (i, got[i], out)


def test_bpe_segment_corpus_counts(spark):
    from hadoop_ozone_spark.datapipe import text as text_ops

    train = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["newest"] * 6))],
        "doc_id long, text string",
    )
    merges, vocab = text_ops.bpe_learn_merges(train, n_merges=4)
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in text_ops.bpe_segment_corpus(
            spark.createDataFrame(
                [(7, "low newest zzz")], "doc_id long, text string"
            ),
            vocab,
        ).collect()
    }
    seg = {r.word: len(r.symbols) for r in vocab.collect()}
    # in-vocab words use their trained segmentation; OOV 'zzz' falls
    # back to its character count
    assert got[7] == (3, seg["low"] + seg["newest"] + 3)


def _docs_from_tokens(spark, rows):
    return spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in rows], "doc_id long, text string"
    )


def test_dup_spans_semantics(spark):
    """dup_spans finds maximal cross-doc duplicated runs: a 16-token
    shared run yields one span covering exactly that run in both docs;
    within-doc repetition alone never seeds; runs shorter than
    min_tokens are dropped."""
    a = [f"a{i}" for i in range(1, 31)]                       # docA = a1..a30
    b = [f"bp{i}" for i in range(1, 5)] + a[4:20] + [f"bq{i}" for i in range(1, 5)]
    c = [f"c{i}" for i in range(1, 11)] * 2 + [f"cz{i}" for i in range(1, 11)]
    d = [f"d{i}" for i in range(1, 9)] + [f"dx{i}" for i in range(1, 11)]
    e = [f"e{i}" for i in range(1, 9)] + d[:8]                # shares 8-run with docD
    docs = _docs_from_tokens(spark, [(1, a), (2, b), (3, c), (4, d), (5, e)])
    for portable in (False, True):
        spans = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_seeds)
            for r in dedup.dup_spans(docs, portable=portable).collect()
        }
        # shared run a5..a20 sits at positions 5..20 in BOTH docs
        assert spans == {(1, 5, 20, 16, 9), (2, 5, 20, 16, 9)}
        # the 8-token docD/docE run surfaces once min_tokens admits it
        low = dedup.dup_spans(docs, min_tokens=8, portable=portable)
        got = {(r.doc_id, r.span_start, r.span_tokens) for r in low.collect()}
        assert (4, 1, 8) in got and (5, 9, 8) in got


def test_dup_spans_gap_and_report(spark):
    """Two shared runs separated by a non-shared gap stay two distinct
    spans (no island bleed), and dup_span_report accounts both."""
    r1 = [f"s{i}" for i in range(1, 17)]     # 16-token shared run 1
    r2 = [f"t{i}" for i in range(1, 17)]     # 16-token shared run 2
    g = [f"g{i}" for i in range(1, 4)] + r1 + [f"gm{i}" for i in range(1, 4)] + r2
    h = r1 + [f"hm{i}" for i in range(1, 6)] + r2 + [f"hz{i}" for i in range(1, 4)]
    docs = _docs_from_tokens(spark, [(7, g), (8, h)])
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.dup_spans(docs).collect()
    }
    assert spans == {
        (7, 4, 19), (7, 23, 38),   # runs at positions 4..19 and 23..38
        (8, 1, 16), (8, 22, 37),
    }
    rep = {r.doc_id: r for r in dedup.dup_span_report(docs).collect()}
    assert rep[7].n_spans == 2 and rep[7].dup_tokens == 32
    assert rep[7].total_tokens == 38 and abs(rep[7].dup_frac - 32 / 38) < 1e-12
    assert rep[8].n_spans == 2 and rep[8].dup_tokens == 32


def test_dup_spans_fast_matches_portable(spark):
    """The xxhash64 fast family and the md5 portable family share the
    plan and must produce identical spans on a real corpus slice."""
    docs = model.dedup_corpus(spark, "/root/testdata/sf0.001").limit(200)
    fast = dedup.dup_spans(docs, portable=False).collect()
    port = dedup.dup_spans(docs, portable=True).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, port))
    assert len(fast) > 0


def test_dup_spans_incremental_matches_batch(spark):
    """Law pin: dup_spans(corpus ∪ delta) restricted to delta doc_ids
    equals dup_spans_incremental(corpus, delta) — for both hash
    families, with and without a pre-built corpus gram index."""
    full = model.dedup_corpus(spark, "/root/testdata/sf0.001").limit(300)
    corpus = full.filter(F.col("doc_id") % 3 != 0)
    delta = full.filter(F.col("doc_id") % 3 == 0)
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    batch = [
        tuple(r)
        for r in dedup.dup_spans(full.limit(300)).collect()
        if r.doc_id in delta_ids
    ]
    inc = [tuple(r) for r in dedup.dup_spans_incremental(corpus, delta).collect()]
    assert sorted(batch) == sorted(inc) and len(inc) > 0
    # pre-built index path (the write-time artifact shape)
    idx = dedup.positional_gram_table(corpus).persist()
    idx.count()
    inc2 = [
        tuple(r)
        for r in dedup.dup_spans_incremental(
            None, delta, corpus_grams=idx
        ).collect()
    ]
    idx.unpersist()
    assert sorted(inc2) == sorted(inc)


def test_dup_spans_randomized_python_replay(spark):
    """Property: dup_spans equals a direct pure-Python reference
    implementation of the law (k-gram in >=2 distinct docs → covered
    positions → maximal interval merge → min-length filter) on
    randomized corpora with planted shared runs."""
    import random

    rng = random.Random(11)
    k, min_tokens = 4, 6
    for trial in range(3):
        vocab = [f"w{i}" for i in range(40)]
        shared_runs = [
            [f"r{t}_{trial}_{j}" for j in range(rng.randint(k, 12))]
            for t in range(4)
        ]
        docs = []
        for d in range(12):
            toks: list = []
            for _ in range(rng.randint(0, 4)):
                if rng.random() < 0.5:
                    toks += rng.choices(vocab, k=rng.randint(1, 6))
                else:
                    toks += rng.choice(shared_runs)
            toks += rng.choices(vocab, k=rng.randint(0, 3))
            docs.append((d, toks))

        # pure-Python reference
        from collections import defaultdict

        gram_docs = defaultdict(set)
        for d, toks in docs:
            for i in range(len(toks) - k + 1):
                gram_docs[tuple(toks[i:i + k])].add(d)
        expected = set()
        for d, toks in docs:
            covered = sorted(
                i
                for i in range(len(toks) - k + 1)
                if len(gram_docs[tuple(toks[i:i + k])]) >= 2
            )
            spans, cur = [], None
            for i in covered:
                if cur is not None and i <= cur[1] + 1:
                    cur = (cur[0], max(cur[1], i + k - 1), cur[2] + 1)
                else:
                    if cur:
                        spans.append(cur)
                    cur = (i, i + k - 1, 1)
            if cur:
                spans.append(cur)
            for s, e, nseeds in spans:
                if e - s + 1 >= min_tokens:
                    expected.add((d, s + 1, e + 1, e - s + 1, nseeds))

        df = _docs_from_tokens(spark, docs)
        got = {
            tuple(r)
            for r in dedup.dup_spans(df, k=k, min_tokens=min_tokens).collect()
        }
        assert got == expected, f"trial {trial}: {got ^ expected}"


def test_dup_span_clean_canonical_law(spark):
    """The canonical owner keeps its text; non-canonical docs cut the
    shared range; exact +2M copies in the dedup corpus are cut to
    empty while their originals are untouched."""
    a = [f"a{i}" for i in range(1, 31)]
    b = [f"bp{i}" for i in range(1, 5)] + a[4:20] + [f"bq{i}" for i in range(1, 5)]
    crafted = _docs_from_tokens(spark, [(1, a), (2, b)])
    rows = {r.doc_id: r for r in dedup.dup_span_clean(crafted).collect()}
    assert rows[1].removed_tokens == 0 and rows[1].clean_text == " ".join(a)
    assert rows[2].removed_tokens == 16
    assert rows[2].clean_text == " ".join(b[:4] + b[20:])

    corpus = model.dedup_corpus(spark, "/root/testdata/sf0.001").filter(
        (F.col("doc_id") % 1_000_000) < 60
    )
    out = {r.doc_id: r for r in dedup.dup_span_clean(corpus).collect()}
    ids = set(out)
    exact_pairs = [(i, i + 2_000_000) for i in ids if i + 2_000_000 in ids]
    assert exact_pairs
    for orig, copy in exact_pairs:
        if out[copy].total_tokens >= dedup.DUP_SPAN_MIN_TOKENS:
            assert out[copy].clean_text == "" and out[copy].removed_tokens == out[copy].total_tokens
            assert out[orig].removed_tokens == 0


def test_dup_span_clean_randomized_python_replay(spark):
    """Property: dup_span_clean equals a pure-Python replay of the
    canonical-owner law (span_lo = min doc over the span's seed grams'
    sharers; owner keeps, others cut) on randomized corpora."""
    import random
    from collections import defaultdict

    rng = random.Random(23)
    k, min_tokens = 4, 6
    shared_runs = [[f"s{t}_{j}" for j in range(rng.randint(k, 10))] for t in range(3)]
    vocab = [f"v{i}" for i in range(30)]
    docs = []
    for d in range(10):
        toks: list = []
        for _ in range(rng.randint(1, 4)):
            toks += rng.choice(shared_runs) if rng.random() < 0.6 else rng.choices(
                vocab, k=rng.randint(1, 5)
            )
        docs.append((d, toks))

    gram_docs = defaultdict(set)
    for d, toks in docs:
        for i in range(len(toks) - k + 1):
            gram_docs[tuple(toks[i:i + k])].add(d)
    expected = {}
    for d, toks in docs:
        covered = sorted(
            (i, min(gram_docs[tuple(toks[i:i + k])]))
            for i in range(len(toks) - k + 1)
            if len(gram_docs[tuple(toks[i:i + k])]) >= 2
        )
        spans, cur = [], None
        for i, glo in covered:
            if cur is not None and i <= cur[1] + 1:
                cur = (cur[0], max(cur[1], i + k - 1), min(cur[2], glo))
            else:
                if cur:
                    spans.append(cur)
                cur = (i, i + k - 1, glo)
        if cur:
            spans.append(cur)
        cut = [
            (s, e) for s, e, glo in spans
            if e - s + 1 >= min_tokens and glo < d
        ]
        kept = [
            t for i, t in enumerate(toks)
            if not any(s <= i <= e for s, e in cut)
        ]
        expected[d] = (len(toks), len(toks) - len(kept), " ".join(kept))

    df = _docs_from_tokens(spark, docs)
    got = {
        r.doc_id: (r.total_tokens, r.removed_tokens, r.clean_text)
        for r in dedup.dup_span_clean(df, k=k, min_tokens=min_tokens).collect()
    }
    assert got == expected


def test_lm_perplexity_domain_signal(spark):
    """The bigram LM trained on the 'en' slice must score en docs as
    more fluent (lower mean NLL) than off-domain docs on average, and
    single-token docs produce no bigrams (absent from the output)."""
    docs = model.load(spark, "/root/testdata/sf0.001", "documents")
    out = text.lm_perplexity(docs)
    joined = out.join(docs.select("doc_id", "lang"), "doc_id")
    rows = joined.collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.avg_nll)
    en = sum(by_lang["en"]) / len(by_lang["en"])
    off = [v for lang, vs in by_lang.items() if lang != "en" for v in vs]
    assert en < sum(off) / len(off)

    tiny = spark.createDataFrame(
        [(1, "en", "hello"), (2, "en", "hello world")],
        "doc_id long, lang string, text string",
    )
    got = {r.doc_id: r.n_bigrams for r in text.lm_perplexity(tiny).collect()}
    assert got == {2: 1}  # the single-token doc has no bigrams


def test_nb_lang_classifier_pure_python_replay(spark):
    """Replay nb_lang_model/nb_lang_scores in pure Python on a tiny
    corpus: smoothed log-probs, per-class floors/priors, ordered fold,
    argmax with lexicographic tie-break."""
    import math

    rows = [
        (0, "en", "the cat sat"),
        (1, "en", "the dog sat"),
        (2, "fr", "le chat le chien"),
        (3, "fr", "le chat"),
        (4, "de", "der hund"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    toks = {d: t.lower().split() for d, _, t in rows}
    langs = {l for _, l, _ in rows}
    tok_cnt: dict = {}
    n_lang: dict = {}
    for d, l, _ in rows:
        for w in toks[d]:
            tok_cnt[(l, w)] = tok_cnt.get((l, w), 0) + 1
            n_lang[l] = n_lang.get(l, 0) + 1
    vocab = len({w for ws in toks.values() for w in ws})

    got_model = {
        (r.lang, r.token): (r.token_cnt, r.logp)
        for r in text.nb_lang_model(docs).collect()
    }
    assert set(got_model) == set(tok_cnt)
    for (l, w), c in tok_cnt.items():
        want = round(math.log((c + 1) / (n_lang[l] + vocab)), 6)
        assert got_model[(l, w)] == (c, want)

    d_lang = {l: sum(1 for _, ll, _ in rows if ll == l) for l in langs}
    def score(d, cand):
        s = round(math.log(d_lang[cand] / len(rows)), 6)
        per_tok: dict = {}
        for w in toks[d]:
            per_tok[w] = per_tok.get(w, 0) + 1
        for w in sorted(per_tok):
            c = tok_cnt.get((cand, w))
            lp = (
                round(math.log((c + 1) / (n_lang[cand] + vocab)), 6)
                if c is not None
                else round(math.log(1.0 / (n_lang[cand] + vocab)), 6)
            )
            s += per_tok[w] * lp
        return round(s, 6)

    got = {r.doc_id: r for r in text.nb_lang_scores(docs).collect()}
    assert set(got) == set(toks)
    for d, l, _ in rows:
        scores = {cand: score(d, cand) for cand in langs}
        best = min(sorted(scores), key=lambda c: (-scores[c], c))
        assert got[d].pred_lang == best, (d, scores, got[d])
        assert got[d].score == scores[best]
        assert got[d].lang == l


def test_nb_lang_scores_partition_invariant(spark):
    """Same predictions and scores at 1 and 8 input partitions (the
    ordered-fold discipline — no partial-sum order dependence)."""
    docs = model.load(spark, "/root/testdata/sf0.001", "documents").limit(60)
    a = sorted(
        (r.doc_id, r.pred_lang, r.score)
        for r in text.nb_lang_scores(docs.repartition(1)).collect()
    )
    b = sorted(
        (r.doc_id, r.pred_lang, r.score)
        for r in text.nb_lang_scores(docs.repartition(8)).collect()
    )
    assert a == b and len(a) == 60


def test_contamination_spans_finds_planted_leak(spark):
    """A train doc embedding the eval text mid-document is flagged with
    the exact token range; clean docs and the leak unit floor hold."""
    from hadoop_ozone_spark.datapipe import dedup

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    filler = "w%d " * 1
    train = spark.createDataFrame(
        [
            # leak at positions 6..15 (1-based)
            (1, "x1 x2 x3 x4 x5 alpha beta gamma delta epsilon zeta eta "
                "theta iota kappa y1 y2"),
            # clean doc
            (2, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"),
            # partial 9-token overlap -> span of 9 < 10, filtered
            (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    got = dedup.contamination_spans(train, bench, portable=True).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_id, r.span_start, r.span_end, r.span_tokens) == (1, 6, 15, 10)


def test_embedding_norm_profile_lanes(spark):
    """NAN / ZERO / NORM lanes and the exact integer bucket law."""
    rows = [
        (1, [0.5] * 64),                      # nq = 64*(5e5)^2 = 1.6e13 -> bucket 64
        (2, [0.0] * 64),                      # ZERO
        (3, [float("nan")] + [0.1] * 63),     # NAN
        (4, [0.1] * 64),                      # nq = 64e10 -> bucket 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from hadoop_ozone_spark.datapipe import similarity as sim

    got = {(r.kind, r.bucket): r.n_vecs for r in
           sim.embedding_norm_profile(emb).collect()}
    assert got == {("NAN", None): 1, ("ZERO", None): 1,
                   ("NORM", 64): 1, ("NORM", 2): 1}


def test_embedding_dim_stats_excludes_nan_vectors(spark):
    from hadoop_ozone_spark.datapipe import similarity as sim

    rows = [
        (1, [1.0, -1.0]),
        (2, [3.0, 5.0]),
        (3, [float("nan"), 7.0]),  # excluded entirely
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.pos: r for r in sim.embedding_dim_stats(emb, dims=2).collect()}
    assert set(got) == {0, 1}
    assert got[0].n == 2 and got[1].n == 2
    assert got[0].mean == 2.0 and got[1].mean == 2.0
    assert got[0].variance == 1.0 and got[1].variance == 9.0
    assert got[1].std == 3.0
    assert got[0].min_val == 1.0 and got[0].max_val == 3.0
    assert got[1].min_val == -1.0 and got[1].max_val == 5.0


# --- CDC chunking + tf-idf (round 7) ---------------------------------------


def test_cdc_chunks_resync_after_insertion(spark):
    """Content-defined boundaries re-synchronize: a prefix insertion
    changes only chunks up to the first boundary after the edit, so a
    long shared tail keeps identical chunk hashes (the property
    fixed-width windows lack; Muthitacharoen et al. 2001 §3.1)."""
    from hadoop_ozone_spark.datapipe import dedup

    base = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], ["doc_id", "text"]
    )
    ct = dedup.cdc_chunk_table(docs).collect()
    h1 = {r.chunk_hash for r in ct if r.doc_id == 1}
    h2 = {r.chunk_hash for r in ct if r.doc_id == 2}
    shared = h1 & h2
    # everything after the first boundary is identical
    assert len(shared) >= len(h1) - 1
    assert len(shared) > 0
    # and chunks concatenated in order reconstruct the doc
    rows = sorted(
        (r for r in ct if r.doc_id == 1), key=lambda r: r.chunk_idx
    )
    assert " ".join(r.chunk_text for r in rows) == base


def test_cdc_fixed_width_comparison(spark):
    """The same prefix-shifted pair under FIXED windows shares almost
    nothing — documenting why CDC earns its place next to
    chunk_dedup."""
    from hadoop_ozone_spark.datapipe import dedup, text as text_ops

    base = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], ["doc_id", "text"]
    )
    cdc = dedup.cdc_dedup_report(docs, min_docs=2).collect()
    assert all(r.shared_frac > 0.5 for r in cdc)
    fixed = text_ops.chunk_dedup(docs, chunk_tokens=20, min_docs=2).collect()
    # one-token shift misaligns every 20-token window
    assert all(r.boilerplate_chunks == 0 for r in fixed)


def test_cdc_source_matrix_symmetric_bound(spark, sf_dir):
    from hadoop_ozone_spark.datapipe import dedup
    from hadoop_ozone_spark import model

    m = dedup.cdc_source_matrix(model.dedup_corpus(spark, sf_dir)).collect()
    assert m
    for r in m:
        assert r.source_a <= r.source_b
        assert r.n_shared_chunks > 0
    # diagonal cells exist (a source always shares chunks with itself
    # once any chunk repeats within it or across its planted copies)
    assert any(r.source_a == r.source_b for r in m)


def test_tfidf_topk_ranks_and_determinism(spark, sf_dir):
    from hadoop_ozone_spark.datapipe import text as text_ops
    from hadoop_ozone_spark import model

    docs = model.load(spark, sf_dir, "documents")
    out = text_ops.tfidf_topk(docs).collect()
    assert out
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        assert doc_id % 20 == 0
        ranks = [r.rank for r in sorted(rows, key=lambda r: r.rank)]
        assert ranks == list(range(1, len(ranks) + 1))
        scores = [r.score for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
    # repartition invariance: same frame at a different parallelism
    again = text_ops.tfidf_topk(docs.repartition(7)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_hll_accuracy_merge_and_small_range(spark):
    from hadoop_ozone_spark.datapipe import sketches

    # accuracy: sigma = 1.04/sqrt(256) = 6.5%; assert within 3 sigma
    df = spark.range(50_000).select(
        F.concat(F.lit("key_"), F.col("id")).alias("k")
    )
    est = sketches.hll_estimate(df, "k").first().hll_estimate
    assert abs(est - 50_000) / 50_000 < 0.20

    # merge law: max-merging the two halves' registers equals the
    # whole's registers (the write-time-artifact union contract)
    a = df.filter(F.col("k") < "key_5")  # lexicographic split
    b = df.filter(F.col("k") >= "key_5")
    whole = {
        r.bucket: r.register for r in sketches.hll_registers(df, "k").collect()
    }
    ra = {r.bucket: r.register for r in sketches.hll_registers(a, "k").collect()}
    rb = {r.bucket: r.register for r in sketches.hll_registers(b, "k").collect()}
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == whole

    # small range: linear counting is near-exact at n << m
    tiny = spark.range(10).select(F.concat(F.lit("t"), F.col("id")).alias("k"))
    r = sketches.hll_estimate(tiny, "k").first()
    assert r.n_zero_registers >= 246  # >= 256 - 10 occupied
    assert abs(r.hll_estimate - 10) <= 1


def test_count_min_one_sided_and_mergeable(spark):
    from hadoop_ozone_spark.datapipe import sketches

    # skewed stream: token t0 x 1000, t1..t199 x (i % 7 + 1)
    rows = [("t0",)] * 1000
    for i in range(1, 200):
        rows += [(f"t{i}",)] * (i % 7 + 1)
    df = spark.createDataFrame(rows, "token string")
    truth = {r.token: r.cnt for r in df.groupBy("token").count().withColumnRenamed("count", "cnt").collect()}
    keys = spark.createDataFrame([(k,) for k in truth], "key string")
    est = {
        r.key: r.cm_estimate
        for r in sketches.cm_point_estimates(df, "token", keys).collect()
    }
    # one-sided error: cm >= true for EVERY key
    assert all(est[k] >= v for k, v in truth.items())
    # the heavy hitter is estimated exactly (collisions only inflate)
    assert est["t0"] >= 1000
    # mergeable: summing two hash-split halves' counters equals the whole's
    a = df.filter(F.crc32(F.col("token")) % 2 == 0)
    b = df.filter(F.crc32(F.col("token")) % 2 == 1)
    whole = {
        (r.row, r.bucket): r.cnt
        for r in sketches.cm_counters(df, "token").collect()
    }
    ca = {
        (r.row, r.bucket): r.cnt
        for r in sketches.cm_counters(a, "token").collect()
    }
    cb = {
        (r.row, r.bucket): r.cnt
        for r in sketches.cm_counters(b, "token").collect()
    }
    merged = {
        k: ca.get(k, 0) + cb.get(k, 0) for k in set(ca) | set(cb)
    }
    assert merged == whole


def test_count_min_absent_key_estimates_near_zero(spark):
    # ADVICE r8: the point query LEFT-joins the counter matrix so a key
    # absent from the stream (or hashing a lane to an empty cell) still
    # yields a row, with empty cells counting 0 — the classic contract
    # where absent keys estimate ~0 instead of silently vanishing
    from hadoop_ozone_spark.datapipe import sketches

    df = spark.createDataFrame([(f"t{i}",) for i in range(50)], "token string")
    keys = spark.createDataFrame(
        [("t0",), ("never_in_stream_xyz",)], "key string"
    )
    est = {
        r.key: r.cm_estimate
        for r in sketches.cm_point_estimates(df, "token", keys).collect()
    }
    assert set(est) == {"t0", "never_in_stream_xyz"}  # no dropped probes
    assert est["t0"] >= 1  # present key: one-sided error
    # 50 tokens x 4 lanes in a 4096-cell matrix: the absent key's 4
    # lanes all landing on occupied cells is ~1e-5 unlikely; min == 0
    assert est["never_in_stream_xyz"] == 0


def test_hll_empty_input_estimates_zero(spark):
    # ADVICE r8: SUM over zero register rows is NULL — coalesce so the
    # empty sketch falls into the linear-counting branch (v = m) and
    # returns m*ln(m/m) = 0, not NULL (merged-zone readers fold empty
    # state)
    from hadoop_ozone_spark.datapipe import sketches

    empty = spark.createDataFrame([], "k string")
    r = sketches.hll_estimate(empty, "k").first()
    assert r.hll_estimate == 0
    assert r.n_zero_registers == sketches.M


def test_bloom_no_false_negatives_and_union_merge(spark):
    from hadoop_ozone_spark.datapipe import sketches

    inserted = spark.createDataFrame(
        [(f"k{i}",) for i in range(500)], "h string"
    )
    others = spark.createDataFrame(
        [(f"other{i}",) for i in range(2000)], "h string"
    )
    bits = sketches.bloom_bits(inserted, "h")
    # no false negatives: every inserted key is a member
    got = sketches.bloom_membership(bits, inserted, "h")
    assert got.filter(~F.col("member")).count() == 0
    # false-positive rate near the analytic (1 - e^(-kn/m))^k
    import math

    fp = sketches.bloom_membership(bits, others, "h").filter("member").count()
    k, n, m = sketches.BLOOM_K, 500, sketches.BLOOM_BITS
    expected = (1 - math.exp(-k * n / m)) ** k
    assert fp / 2000 < max(5 * expected, 0.01)
    # union-merge: bits(a ∪ b) == bits(a) ∪ bits(b)
    a = inserted.filter(F.crc32("h") % 2 == 0)
    b = inserted.filter(F.crc32("h") % 2 == 1)
    whole = {r.bit for r in bits.collect()}
    merged = {r.bit for r in sketches.bloom_bits(a, "h").collect()} | {
        r.bit for r in sketches.bloom_bits(b, "h").collect()
    }
    assert merged == whole


def test_gram_novelty_twins_score_zero(spark):
    from hadoop_ozone_spark.datapipe import dedup as dd

    base = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [
            (1, base),                       # canonical: all grams novel
            (5, base),                       # exact twin: zero novelty
            (7, base + " extra tail words added here beyond the copy"),
            (9, "an entirely different sentence with its own words only"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_novel, r.n_grams, r.novelty_ppm)
           for r in dd.gram_novelty(docs, portable=True).collect()}
    assert got[1][0] == got[1][1] and got[1][2] == 1_000_000
    assert got[5] == (0, got[1][1], 0)
    # the extended doc owns only the grams past/straddling the copy
    assert 0 < got[7][0] < got[7][1]
    assert got[9][2] == 1_000_000


def test_hll_grouped_matches_ungrouped_per_key(spark):
    from hadoop_ozone_spark.datapipe import sketches

    df = spark.range(60_000).select(
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("g"),
        F.concat(F.lit("u"), F.expr("id DIV (id % 5 + 1)")).alias("u"),
    )
    grouped = {
        r.key: (r.hll_estimate, r.n_zero_registers)
        for r in sketches.hll_estimate_grouped(df, "g", "u").collect()
    }
    for g in ("g0", "g1", "g2"):
        solo = sketches.hll_estimate(
            df.filter(F.col("g") == g), "u"
        ).first()
        assert grouped[g] == (solo.hll_estimate, solo.n_zero_registers)


def test_knn_label_majority_and_tie_break(spark):
    from hadoop_ozone_spark.plans import datapipe_queries as dq
    import hadoop_ozone_spark.model as m

    # 2-D separable clusters: label 0 near (1, 0), label 1 near (0, 1);
    # query 103 sits exactly between -> 5-NN mixes, majority decides
    rows = []
    for i in range(10):
        rows.append((i * 10, [1.0, 0.01 * i], 0))        # label 0 cluster
        rows.append((i * 10 + 1, [0.01 * i, 1.0], 1))    # label 1 cluster
    rows.append((103, [1.0, 0.1], 9))  # held-out (vec_id % 50 == 3): near label 0
    rows.append((153, [0.1, 1.0], 9))  # held-out: near label 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = m.load
    try:
        m.load = lambda s, sf, t: df
        got = {r.query_id: (r.predicted_label, r.true_label, r.correct)
               for r in dq.dp_knn_label(spark, "unused").collect()}
    finally:
        m.load = orig
    assert got[103] == (0, 9, False)
    assert got[153] == (1, 9, False)


def test_knn_label_ivfpq_agrees_with_brute(spark):
    # VERDICT r8 #3: the IVFADC labeling twin must agree with the brute
    # path on a separable-cluster fixture — cosine-kNN (brute) and
    # L2-rerank-kNN (ivfpq) may pick different neighbor SETS, but on
    # well-separated clusters every neighbor carries the cluster label,
    # so the predictions match exactly.
    from hadoop_ozone_spark.plans import datapipe_queries as dq
    import hadoop_ozone_spark.model as m

    # 64-dim clusters: label 0 concentrated on axis 0, label 1 on
    # axis 1, alternating by parity so centroid seeds (vec_id < 16)
    # and codebook seeds ([16, 32)) cover both clusters
    def vec(axis, i):
        v = [0.0] * 64
        v[axis] = 1.0
        v[(axis + 2 + i % 5)] = 0.05 + 0.01 * (i % 7)
        return v

    rows = []
    for i in range(100):
        axis = i % 2
        rows.append((i, vec(axis, i), axis))
    # held-out queries (vec_id % 50 == 3): 3 -> odd (label 1 side),
    # 53 -> odd as well; override their labels to a sentinel
    rows = [
        (vid, v, 9 if vid % 50 == 3 else lab) for vid, v, lab in rows
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = m.load
    try:
        m.load = lambda s, sf, t: df
        brute = {
            r.query_id: r.predicted_label
            for r in dq.dp_knn_label(spark, "unused").collect()
        }
        ivfpq = {
            r.query_id: r.predicted_label
            for r in dq.dp_knn_label_ivfpq(spark, "unused").collect()
        }
    finally:
        m.load = orig
    assert set(brute) == {3, 53} and brute == ivfpq
    assert brute[3] == 1 and brute[53] == 1  # odd axis -> label 1


def test_qsketch_merge_size_and_one_sided_bound(spark):
    # the quantile sketch is the fourth mergeable write-time artifact:
    # SUM-merge law, input-size-independent artifact, and the
    # one-sided within-one-bin estimate guarantee
    import math

    from hadoop_ozone_spark.datapipe import sketches

    df = spark.range(50_000).select(
        ((F.col("id") * F.col("id")) % 30_000 + 1).alias("v")
    ).persist()
    whole = {r.bin: r.cnt for r in sketches.qsketch_counts(df, "v").collect()}
    # artifact bounded by the threshold ladder regardless of input
    assert len(whole) <= len(sketches.QS_THRESHOLDS) + 1
    big = spark.range(500_000).select((F.col("id") % 30_000 + 1).alias("v"))
    assert (
        sketches.qsketch_counts(big, "v").count()
        <= len(sketches.QS_THRESHOLDS) + 1
    )
    # SUM-merge: two disjoint halves' sketches fold to the whole's
    a = df.filter(F.col("v") % 2 == 0)
    b = df.filter(F.col("v") % 2 == 1)
    ca = {r.bin: r.cnt for r in sketches.qsketch_counts(a, "v").collect()}
    cb = {r.bin: r.cnt for r in sketches.qsketch_counts(b, "v").collect()}
    merged = {k: ca.get(k, 0) + cb.get(k, 0) for k in set(ca) | set(cb)}
    assert merged == whole
    # one-sided bound: est <= true order statistic < next threshold
    vals = sorted(r.v for r in df.collect())
    n = len(vals)
    est = {
        r.q_ppm: r.est
        for r in sketches.qsketch_quantiles(
            sketches.qsketch_counts(df, "v")
        ).collect()
    }
    for q_ppm, e in est.items():
        true = vals[(q_ppm * n + 999_999) // 1_000_000 - 1]
        assert e <= true
        nxt = [t for t in sketches.QS_THRESHOLDS if t > e]
        assert not nxt or true < nxt[0]
        # relative bin width <= 2^(1/8): the estimate is within ~9%
        assert true <= math.ceil(e * 2 ** (1 / sketches.QS_PER_OCTAVE)) + 1
    df.unpersist()


def test_qsketch_grouped_equals_per_key_ungrouped(spark):
    from hadoop_ozone_spark.datapipe import sketches

    df = spark.createDataFrame(
        [(f"g{i % 3}", (i * 7) % 500 + 1) for i in range(5000)],
        "g string, v long",
    )
    grouped = {
        (r.key, r.q_ppm): r.est
        for r in sketches.qsketch_quantiles_grouped(
            sketches.qsketch_counts_grouped(df, "g", "v")
        ).collect()
    }
    for g in ("g0", "g1", "g2"):
        solo = {
            r.q_ppm: r.est
            for r in sketches.qsketch_quantiles(
                sketches.qsketch_counts(df.filter(F.col("g") == g), "v")
            ).collect()
        }
        for q, est in solo.items():
            assert grouped[(g, q)] == est


def test_qsketch_two_level_ladder_matches_bisect(spark):
    # the two-level octave dispatch must compute EXACTLY the flat
    # #{t <= v} law — pinned against a Python bisect replay over every
    # boundary (each threshold and its neighbors, 0/1, the overflow
    # edge) plus a random sweep
    import bisect
    import random

    from hadoop_ozone_spark.datapipe import sketches

    vals = {0, 1, 2**sketches.QS_MAX_OCTAVES, 2**sketches.QS_MAX_OCTAVES + 7}
    for t in sketches.QS_THRESHOLDS:
        vals |= {t - 1, t, t + 1}
    rng = random.Random(42)
    vals |= {rng.randrange(0, 2**21) for _ in range(500)}
    df = spark.createDataFrame([(v,) for v in sorted(vals)], "v long")
    got = {
        r.v: r.bin
        for r in df.select(
            "v", sketches._qs_bin("v").alias("bin")
        ).collect()
    }
    for v in sorted(vals):
        assert got[v] == bisect.bisect_right(sketches.QS_THRESHOLDS, v), v


# The Column-call forms the SQL-string ladders and literal arrays
# replaced (kept here only as the reference the rewrites are pinned to).

def _qs_bin_columns(v):
    from hadoop_ozone_spark.datapipe import sketches

    expr = F.lit(0)
    for lo, base, octs in sketches._QS_OCTAVES:
        inner = F.lit(base)
        for j, t in enumerate(octs, start=1):
            inner = F.when(v >= F.lit(t), F.lit(base + j)).otherwise(inner)
        expr = F.when(v >= F.lit(lo), inner).otherwise(expr)
    return F.when(
        v >= F.lit(2**sketches.QS_MAX_OCTAVES), F.lit(len(sketches.QS_THRESHOLDS))
    ).otherwise(expr)


def _rho_columns(rest):
    from hadoop_ozone_spark.datapipe import sketches

    expr = F.lit(sketches.REST_BITS + 1)
    for r in range(sketches.REST_BITS, 0, -1):
        expr = F.when(
            rest >= F.lit(2 ** (sketches.REST_BITS - r)), F.lit(r)
        ).otherwise(expr)
    return expr


def _same_column(df, new, old):
    """``new`` and ``old`` agree on every row of ``df`` and in type."""
    out = df.select(new.alias("new"), old.alias("old"))
    assert out.schema["new"].dataType == out.schema["old"].dataType
    rows = out.collect()
    assert rows and all(r.new == r.old for r in rows), [
        r for r in rows if r.new != r.old
    ][:5]


def test_qs_bin_sql_matches_column_ladder(spark):
    # every threshold and octave bound ±1, 0, the overflow edge, null
    from hadoop_ozone_spark.datapipe import sketches

    vals = {0, 2**sketches.QS_MAX_OCTAVES}
    for t in sketches.QS_THRESHOLDS + [lo for lo, _, _ in sketches._QS_OCTAVES]:
        vals |= {t - 1, t, t + 1}
    df = spark.createDataFrame(
        [(v,) for v in sorted(vals)] + [(None,)], "v long"
    )
    _same_column(df, sketches._qs_bin("v"), _qs_bin_columns(F.col("v")))


def test_rho_sql_matches_column_ladder(spark):
    # every 2^k bound ±1 over the REST_BITS range, 0, all-ones, null
    from hadoop_ozone_spark.datapipe import sketches

    vals = {0, 2**sketches.REST_BITS - 1}
    for k in range(sketches.REST_BITS):
        vals |= {2**k - 1, 2**k, 2**k + 1}
    df = spark.createDataFrame(
        [(v,) for v in sorted(vals)] + [(None,)], "rest long"
    )
    _same_column(
        df, F.expr(sketches._rho_sql("rest")), _rho_columns(F.col("rest"))
    )


def test_literal_arrays_match_column_form(spark):
    # the qsketch bounds / q_ppm axis and the portable MinHash (a, b)
    # coefficients: same values, same array and struct field types
    from hadoop_ozone_spark.datapipe import sketches

    one = spark.range(1)
    _same_column(
        one,
        F.expr(sketches._QS_BOUNDS_SQL),
        F.array(*[F.lit(t) for t in sketches.QS_THRESHOLDS]),
    )
    q_ppms = (500000, 900000, 990000)
    _same_column(
        one,
        F.expr(sketches._q_ppms_sql(q_ppms)),
        F.array(*[F.lit(q).cast("long") for q in q_ppms]),
    )
    _same_column(
        one,
        F.expr(dedup._minhash_ab_sql(dedup.NUM_HASHES)),
        F.array(
            *[
                F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                for a, b in dedup._minhash_coefficients(dedup.NUM_HASHES)
            ]
        ),
    )


def test_cm_grouped_equals_per_key_ungrouped(spark):
    # a group's counters must be bit-identical to the ungrouped sketch
    # of its slice (same seeded lanes), so the one-sided error law
    # carries over per group
    from hadoop_ozone_spark.datapipe import sketches

    df = spark.createDataFrame(
        [(f"g{i % 2}", f"t{(i * i) % 40}") for i in range(3000)],
        "g string, v string",
    )
    grouped = {
        (r.key, r.row, r.bucket): r.cnt
        for r in sketches.cm_counters_grouped(df, "g", "v").collect()
    }
    for g in ("g0", "g1"):
        solo = {
            (r.row, r.bucket): r.cnt
            for r in sketches.cm_counters(
                df.filter(F.col("g") == g), "v"
            ).collect()
        }
        assert {(r, b): c for (k, r, b), c in grouped.items() if k == g} == solo
    # grouped point estimates: one-sided per group, absent probes -> 0
    probes = spark.createDataFrame(
        [("g0", "t0"), ("g1", "t1"), ("g0", "never_seen_xyz")],
        "key string, probe string",
    )
    est = {
        (r.key, r.probe): r.cm_estimate
        for r in sketches.cm_point_estimates_grouped(
            df, "g", "v", probes
        ).collect()
    }
    truth = {
        (r.g, r.v): r.n
        for r in df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert est[("g0", "t0")] >= truth[("g0", "t0")]
    assert est[("g1", "t1")] >= truth[("g1", "t1")]
    assert est[("g0", "never_seen_xyz")] == 0


def test_kmv_estimate_exact_branch_and_accuracy(spark):
    from hadoop_ozone_spark.datapipe import sketches

    # below k: the sketch IS the distinct set -> exact
    tiny = spark.range(100).select(F.concat(F.lit("v"), F.col("id")).alias("k"))
    r = sketches.kmv_estimate(tiny, "k").first()
    assert r.kmv_estimate == 100 and r.sketch_size == 100

    # at 50k distinct: sigma ~ 1/sqrt(k-1) = 6.3%; assert within 3 sigma
    df = spark.range(50_000).select(
        F.concat(F.lit("key_"), F.col("id")).alias("k")
    )
    r = sketches.kmv_estimate(df, "k").first()
    assert r.sketch_size == sketches.KMV_K
    assert abs(r.kmv_estimate - 50_000) / 50_000 < 0.20

    # duplicates don't move the sketch (distinct-hash law)
    dup = df.union(df).union(df)
    assert sketches.kmv_estimate(dup, "k").first().kmv_estimate == r.kmv_estimate

    # empty input estimates 0, not NULL
    empty = spark.createDataFrame([], "k string")
    r0 = sketches.kmv_estimate(empty, "k").first()
    assert r0.kmv_estimate == 0 and r0.sketch_size == 0


def test_kmv_merge_law(spark):
    # union-then-k-smallest of two sketches == the whole's sketch (the
    # write-time-artifact contract: per-partition/day sketches merge)
    from hadoop_ozone_spark.datapipe import sketches

    df = spark.range(20_000).select(
        F.concat(F.lit("m"), F.col("id")).alias("k")
    )
    a = df.filter(F.col("id") % 3 == 0).select("k")
    b = df.filter(F.col("id") % 3 != 0).select("k")
    whole = [r.h for r in sketches.kmv_sketch(df, "k").collect()]
    ha = [r.h for r in sketches.kmv_sketch(a, "k").collect()]
    hb = [r.h for r in sketches.kmv_sketch(b, "k").collect()]
    merged = sorted(set(ha) | set(hb))[: sketches.KMV_K]
    assert merged == sorted(whole)


def test_kmv_set_ops_disjoint_identical_and_overlap(spark):
    from hadoop_ozone_spark.datapipe import sketches

    big = spark.range(30_000)
    a = big.select(F.concat(F.lit("a"), F.col("id")).alias("k"))
    # identical sets: jaccard == 1e6, inter == union
    r = sketches.kmv_set_ops(a, a, "k").first()
    assert r.jaccard_ppm == 1_000_000 and r.inter_est == r.union_est

    # disjoint sets: inter == 0, jaccard == 0
    b = big.select(F.concat(F.lit("b"), F.col("id")).alias("k"))
    r = sketches.kmv_set_ops(a, b, "k").first()
    assert r.inter_est == 0 and r.jaccard_ppm == 0
    # union estimate sees both sides: ~60k within 3 sigma-ish
    assert abs(r.union_est - 60_000) / 60_000 < 0.25

    # 50% overlap: ids 0..30k vs 15k..45k -> true jaccard = 1/3
    c = (
        spark.range(15_000, 45_000)
        .select(F.concat(F.lit("a"), F.col("id")).alias("k"))
    )
    r = sketches.kmv_set_ops(a, c, "k").first()
    assert abs(r.inter_est - 15_000) / 15_000 < 0.35
    assert abs(r.jaccard_ppm - 333_333) / 333_333 < 0.35

    # below-k exact branch: everything exact
    sa = spark.createDataFrame([(f"x{i}",) for i in range(60)], "k string")
    sb = spark.createDataFrame([(f"x{i}",) for i in range(30, 90)], "k string")
    r = sketches.kmv_set_ops(sa, sb, "k").first()
    assert (r.a_est, r.b_est, r.inter_est, r.union_est) == (60, 60, 30, 90)
    assert r.jaccard_ppm == 30 * 1_000_000 // 90


def test_mg_summary_laws(spark):
    from hadoop_ozone_spark.datapipe import sketches

    # skewed stream: t0 x 1000, t1..t99 x (i % 7 + 1)
    rows = [("t0",)] * 1000
    for i in range(1, 100):
        rows += [(f"t{i}",)] * (i % 7 + 1)
    df = spark.createDataFrame(rows, "token string")
    n = df.count()
    truth = {
        r.token: r["count"] for r in df.groupBy("token").count().collect()
    }
    summ = sketches.mg_summary(df, "token").collect()
    # bounded artifact
    assert 0 < len(summ) <= sketches.MG_K
    t = summ[0].mg_threshold
    assert all(r.mg_threshold == t for r in summ)
    # threshold law: t <= n/(k+1)
    assert t * (sketches.MG_K + 1) <= n
    # one-sided per-key law: est <= true <= est + t
    for r in summ:
        assert r.mg_count <= truth[r.key] <= r.mg_count + t
    # any key with true freq > n/(k+1) MUST survive (heavy-hitter law)
    kept = {r.key for r in summ}
    for k, v in truth.items():
        if v * (sketches.MG_K + 1) > n:
            assert k in kept
    assert "t0" in kept

    # fewer distinct keys than k: summary == exact counts, t == 0
    few = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3, "token string"
    )
    s = {r.key: (r.mg_count, r.mg_threshold) for r in
         sketches.mg_summary(few, "token").collect()}
    assert s == {"a": (5, 0), "b": (3, 0)}


def test_mg_merge_error_bound(spark):
    from hadoop_ozone_spark.datapipe import sketches

    # two disjoint-day slices of one skewed stream — merged in ZONE
    # form (summary + threshold sentinel), which is what composes
    rows1 = [("t0",)] * 400 + [(f"t{i}",) for i in range(1, 60) for _ in range(i % 5 + 1)]
    rows2 = [("t0",)] * 300 + [(f"u{i}",) for i in range(1, 60) for _ in range(i % 4 + 1)]
    d1 = spark.createDataFrame(rows1, "token string")
    d2 = spark.createDataFrame(rows2, "token string")
    z1 = sketches.mg_zone(d1, "token")
    z2 = sketches.mg_zone(d2, "token")
    out = sketches.mg_merge(z1, z2).collect()
    merged = [r for r in out if r.key is not None]
    sentinels = [r for r in out if r.key is None]
    assert 0 < len(merged) <= sketches.MG_K and len(sentinels) == 1
    whole = d1.union(d2)
    truth = {
        r.token: r["count"] for r in whole.groupBy("token").count().collect()
    }
    bound = sentinels[0].mg_threshold
    assert all(r.mg_threshold == bound for r in merged)
    # merged one-sided law vs the EXACT combined counts
    for r in merged:
        assert r.mg_count <= truth[r.key] <= r.mg_count + bound
    # the global heavy hitter survives the merge
    assert any(r.key == "t0" for r in merged)

    # EMPTY-summary input (review finding): 17 keys x 3 rows -> the
    # zone's summary is empty but its sentinel carries t=3; the merged
    # bound must still cover those keys (est 0, true 3)
    tied = spark.createDataFrame(
        [(f"e{i}",) for i in range(sketches.MG_K + 1) for _ in range(3)],
        "token string",
    )
    hot = spark.createDataFrame([("hot",)] * 40, "token string")
    out2 = sketches.mg_merge(
        sketches.mg_zone(tied, "token"), sketches.mg_zone(hot, "token")
    ).collect()
    bound2 = [r for r in out2 if r.key is None][0].mg_threshold
    assert bound2 >= 3  # the tied zone's lost-threshold is in the bound
    by_key = {r.key: r.mg_count for r in out2 if r.key is not None}
    truth2 = {**{f"e{i}": 3 for i in range(sketches.MG_K + 1)}, "hot": 40}
    for k, v in truth2.items():
        est = by_key.get(k, 0)
        assert est <= v <= est + bound2

    # NULL data values are excluded by contract, never conflated with
    # the sentinel: a 60%-NULL stream's summary names only real keys
    nulls = spark.createDataFrame(
        [(None,)] * 30 + [("real",)] * 20, "token string"
    )
    z = sketches.mg_zone(nulls, "token").collect()
    assert {r.key for r in z} == {"real", None}
    assert [r for r in z if r.key == "real"][0].mg_count == 20


def test_mg_grouped_equals_per_key_ungrouped(spark):
    from hadoop_ozone_spark.datapipe import sketches

    rows = []
    for g in ("s1", "s2", "s3"):
        rows += [(g, "hot")] * (50 if g == "s1" else 9)
        rows += [(g, f"{g}_t{i}") for i in range(25) for _ in (range(2) if i % 3 else range(1))]
    df = spark.createDataFrame(rows, "src string, token string")
    grouped = sketches.mg_summary_grouped(df, "src", "token").collect()
    for g in ("s1", "s2", "s3"):
        mine = sorted(
            (r.val, r.mg_count, r.mg_threshold)
            for r in grouped
            if r.key == g
        )
        solo = sorted(
            (r.key, r.mg_count, r.mg_threshold)
            for r in sketches.mg_summary(
                df.filter(F.col("src") == g).select("token"), "token"
            ).collect()
        )
        assert mine == solo


def test_kmv_grouped_matches_ungrouped_and_matrix_laws(spark):
    from hadoop_ozone_spark.datapipe import sketches

    rows = []
    for g, lo, hi in (("g1", 0, 20_000), ("g2", 10_000, 30_000), ("g3", 50_000, 50_080)):
        rows.append(
            spark.range(lo, hi).select(
                F.lit(g).alias("grp"),
                F.concat(F.lit("v"), F.col("id")).alias("k"),
            )
        )
    df = rows[0].union(rows[1]).union(rows[2])
    sk = sketches.kmv_sketch_grouped(df, "grp", "k").collect()
    # grouped == per-group ungrouped
    for g in ("g1", "g2", "g3"):
        mine = sorted(r.h for r in sk if r.key == g)
        solo = sorted(
            r.h
            for r in sketches.kmv_sketch(
                df.filter(F.col("grp") == g).select("k"), "k"
            ).collect()
        )
        assert mine == solo

    m = {
        (r.key_a, r.key_b): r
        for r in sketches.kmv_pairwise_matrix(df, "grp", "k").collect()
    }
    assert set(m) == {("g1", "g2"), ("g1", "g3"), ("g2", "g3")}
    # g1 ∩ g2 = 10k of 30k union (jaccard 1/3); g3 disjoint from both
    r12 = m[("g1", "g2")]
    assert abs(r12.inter_est - 10_000) / 10_000 < 0.35
    assert abs(r12.jaccard_ppm - 333_333) / 333_333 < 0.35
    assert m[("g1", "g3")].inter_est == 0 and m[("g2", "g3")].inter_est == 0
    # g3 is below k -> its pairs run at exact theta; union vs g1 ~ 20,080
    r13 = m[("g1", "g3")]
    assert abs(r13.union_est - 20_080) / 20_080 < 0.25
    # matrix pair count is complete even where samples are empty
    tiny = spark.createDataFrame(
        [("a", "x"), ("b", "y")], "grp string, k string"
    )
    t = {
        (r.key_a, r.key_b): r
        for r in sketches.kmv_pairwise_matrix(tiny, "grp", "k").collect()
    }
    assert t[("a", "b")].inter_est == 0 and t[("a", "b")].union_est == 2


def test_kmv_null_values_excluded_cross_engine(spark):
    # review finding: md5_lane(NULL) is NULL; Spark sorts NULLS FIRST,
    # DuckDB NULLS LAST — NULLs are excluded from the sketch on BOTH
    # engines so the artifact and theta agree
    import duckdb

    from hadoop_ozone_spark.datapipe import sketches

    rows = [(None,)] * 5 + [(f"v{i}",) for i in range(400)]
    df = spark.createDataFrame(rows, "k string")
    sk = sorted(r.h for r in sketches.kmv_sketch(df, "k").collect())
    assert len(sk) == sketches.KMV_K and all(h is not None for h in sk)
    # estimate sees 400 distinct (not 405, not NULL-polluted theta)
    est = sketches.kmv_estimate(df, "k").first()
    assert est.kmv_estimate == pytest.approx(400, rel=0.25)

    con = duckdb.connect()
    vals = " UNION ALL ".join(
        ["SELECT NULL AS k"] * 2 + [f"SELECT 'v{i}' AS k" for i in range(400)]
    )
    got = [
        r[0]
        for r in con.execute(sketches.kmv_sketch_sql(vals, "k")).fetchall()
    ]
    assert sorted(got) == sk  # bit-identical artifact across engines


def test_media_near_dup_recall_and_law(spark, sf_dir):
    """The planted perturbations are GUARANTEED recovered: brightness
    copies at hamming 0 (gradient signs are shift-invariant), crop
    copies at hamming 2 (grid resampling duplicates row 0, moving only
    the vertical edge bit) — both inside the 4-band pigeonhole
    guarantee (distance <= 3 always shares a clean band)."""
    from hadoop_ozone_spark.datapipe import multimodal
    from hadoop_ozone_spark import model

    docs = model.load(spark, sf_dir, "documents")
    thumbs = multimodal.synthesize_thumbnails(docs)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multimodal.media_near_dup_pairs(thumbs).collect()
    }
    img_ids = [
        r.doc_id for r in docs.select("doc_id").collect() if r.doc_id % 3 == 0
    ]
    bright = [d for d in img_ids if d % 5 == 0]
    crop = [d for d in img_ids if d % 7 == 0]
    assert bright and crop
    assert all(pairs.get((d, d + 3_000_000)) == 0 for d in bright)
    assert all(pairs.get((d, d + 6_000_000)) == 2 for d in crop)
    # payload really is a parseable P6 whose header drives the hash:
    # the crop copy's header says 8x7 and its raster is 56 pixels
    row = (
        thumbs.filter(F.col("doc_id") == crop[0] + 6_000_000)
        .select("content")
        .first()
    )
    payload = bytes(row.content)
    assert payload.startswith(b"P6\n8 7\n255\n")
    assert len(payload) == 11 + 8 * 7 * 3


def test_media_dhash_brightness_invariance_is_exact(spark):
    """media_dhash_frame is invariant under ANY unclamped brightness
    shift, not just the planted +9 — pinned by hashing the same
    thumbnail at three shift levels, materialized as payload bytes."""
    shifts = (0, 5, 9)
    row = spark.range(21, 22).select(
        F.col("id").alias("doc_id")
    ).select(
        *[multimodal._thumb_payload(8, 8, b).alias(f"p{b}") for b in shifts]
    ).first()
    payloads = spark.createDataFrame(
        [(b, row[f"p{b}"]) for b in shifts], "doc_id long, content binary"
    )
    hashes = {
        r.doc_id: r.dhash
        for r in multimodal.media_dhash_frame(payloads).collect()
    }
    assert hashes[0] == hashes[5] == hashes[9] > 0
    assert hashes[0] == _py_dhash(bytes(row.p0))


def test_media_dup_clusters_close_pairs_transitively(spark, sf_dir):
    """media_dup_clusters is the transitive closure of
    media_near_dup_pairs, one row per IMAGE: every pair shares a
    cluster, cluster_id is the component's minimum doc_id, keep marks
    exactly it, and cluster_size counts members — so the linear
    contract loses nothing the quadratic one finds."""
    from hadoop_ozone_spark import model
    from hadoop_ozone_spark.datapipe import multimodal

    thumbs = multimodal.synthesize_thumbnails(
        model.load(spark, sf_dir, "documents")
    )
    pairs = multimodal.media_near_dup_pairs(thumbs).collect()
    rows = multimodal.media_dup_clusters(thumbs).collect()
    label = {r.doc_id: r.cluster_id for r in rows}
    assert len(label) == thumbs.count()  # one row per image
    assert all(label[p.doc_a] == label[p.doc_b] for p in pairs)
    # union-find over the pairs = the expected components
    parent = {d: d for d in label}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p.doc_a), find(p.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {d: find(d) for d in label}
    assert label == expect
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert [m.doc_id for m in members if m.keep] == [cid]
        assert all(m.cluster_size == len(members) for m in members)

def _py_dhash(payload: bytes) -> int:
    """Pure-Python replay of the media_dhash law over raw BYTES —
    the oracle for the binary-safety pin below."""
    nl1 = payload.index(b"\n")
    nl2 = payload.index(b"\n", nl1 + 1)
    nl3 = payload.index(b"\n", nl2 + 1)
    w, h = map(int, payload[nl1 + 1:nl2].split())
    raster = payload[nl3 + 1:]

    def g(i, j):
        sx = i * (w - 1) // 7
        sy = j * (h - 1) // 7
        return raster[(sy * w + sx) * 3]

    hsh = 0
    for j in range(8):
        for i in range(7):
            if g(i + 1, j) > g(i, j):
                hsh |= 1 << (j * 7 + i)
    for j in range(7):
        if g(0, j + 1) > g(0, j):
            hsh |= 1 << (56 + j)
    return hsh


def test_media_dhash_is_binary_safe_above_0x80(spark):
    """VERDICT r10 #8: real media bytes >= 0x80 must hash correctly.
    media_dhash samples the raw BYTES (substr on BinaryType + hex/conv)
    so a planted image whose samples cross 0x80 matches the pure-Python
    byte replay exactly; the retired character-indexed form
    (_media_dhash_utf8) THROWS on the same payload (Spark 4 decode is
    ANSI-strict on malformed UTF-8), which is why it was replaced."""
    w = h = 8
    header = f"P6\n{w} {h}\n255\n".encode()
    raster = bytearray()
    for p in range(w * h):
        x, y = p % w, p // w
        v = (37 * (x + 3) * (y + 5)) % 256  # crosses 0x80 all over
        raster += bytes([v, v, v])
    payload = bytes(header + raster)
    assert any(b >= 0x80 for b in raster[::3])  # the plant is real
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, content binary"
    )
    got = multimodal.media_dhash_frame(df).first()
    expect = _py_dhash(payload)
    assert got.dhash == expect
    # the character-indexed form cannot even evaluate this payload:
    # ANSI decode rejects the malformed (real-media) byte stream
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        df.select(
            multimodal._media_dhash_utf8(F.col("content")).alias("h")
        ).first()


def test_media_dhash_nulls_16bit_maxval(spark):
    """VERDICT r11 #2: the raster stride and 1-byte substr sample are
    correct only for 1-byte-per-sample PPMs (maxval <= 255). A 16-bit
    P6 (maxval 65535: TWO big-endian bytes per sample) must hash to
    NULL — loud failure — never a silently wrong hash, and the frame
    pass must count it as unsupported while still hashing the 8-bit
    sibling in the same frame."""
    w = h = 8
    hdr16 = f"P6\n{w} {h}\n65535\n".encode()
    raster16 = bytearray()
    for p in range(w * h):
        v = (1021 * (p + 7)) % 65536
        raster16 += v.to_bytes(2, "big") * 3
    hdr8 = f"P6\n{w} {h}\n255\n".encode()
    raster8 = bytes((41 * (p + 3)) % 256 for p in range(w * h * 3))
    df = spark.createDataFrame(
        [
            (1, bytearray(hdr16 + raster16)),
            (2, bytearray(hdr8 + raster8)),
        ],
        "doc_id long, content binary",
    )
    rows = {
        r.doc_id: r.dhash
        for r in multimodal.media_dhash_frame(df).collect()
    }
    assert rows[1] is None  # the guard fires, loudly
    assert rows[2] == _py_dhash(bytes(hdr8 + raster8))
    report = multimodal.media_unsupported_report(df).first()
    assert (report.total, report.hashed, report.unsupported) == (2, 2 - 1, 1)


def test_media_dhash_sub255_maxval_hashes_on_fast_path(spark):
    """ADVICE r12: legal 1-byte PPMs with maxval 1..254 are indexable —
    gradient signs are invariant under the 255/maxval intensity
    rescale — so the guard must pass them, matching both the
    pure-Python byte replay and the decode route. Only maxval > 255
    (2-byte samples) takes the routed lane."""
    rows = []
    for doc, maxval in ((1, 254), (2, 100), (3, 1), (4, 255)):
        hdr = f"P6\n8 8\n{maxval}\n".encode()
        raster = bytes((41 * (p + doc)) % (maxval + 1) for p in range(192))
        rows.append((doc, bytearray(hdr + raster)))
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {
        r.doc_id: r.dhash for r in multimodal.media_dhash_frame(df).collect()
    }
    for doc, payload in rows:
        assert got[doc] is not None
        assert got[doc] == _py_dhash(bytes(payload))
        assert got[doc] == multimodal.dhash_decoded(bytes(payload))
    report = multimodal.media_unsupported_report(df).first()
    assert (report.total, report.hashed, report.unsupported) == (4, 4, 0)


def test_media_routing_recovers_16bit_payloads(spark, sf_dir):
    """VERDICT r12 #4 end-to-end: the deep fixture plants a 16-bit
    copy (maxval 65535, sample = gray * 257) of every doc_id % 33 = 0
    image at +9M. The fast path NULLs them, the routed frame decodes
    them to their high byte — so each 16-bit twin carries EXACTLY its
    8-bit original's dHash — and the pair query surfaces every planted
    pair at hamming 0 instead of excluding the payloads."""
    from hadoop_ozone_spark import model, scratch

    docs = model.load(spark, sf_dir, "documents")
    deep = multimodal.synthesize_thumbnails(docs, deep=True)
    planted = deep.filter(F.col("doc_id") >= 9_000_000).count()
    assert planted > 0
    report = multimodal.media_unsupported_report(deep).first()
    assert report.unsupported == planted
    scratch.fresh("routing-test")
    routed = multimodal.media_dhash_frame_routed(deep, "routing-test")
    hashes = {r.doc_id: r.dhash for r in routed.collect()}
    assert report.total == len(hashes)  # nothing lost to routing
    deep_ids = [d for d in hashes if d >= 9_000_000]
    assert len(deep_ids) == planted
    for d in deep_ids:
        assert hashes[d] == hashes[d - 9_000_000]  # high byte == gray
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multimodal.media_near_dup_pairs(deep).collect()
    }
    for d in deep_ids:
        assert pairs[(d - 9_000_000, d)] == 0
    # decoder-rejected payloads are the only exclusions: a garbage blob
    # plus one 16-bit image must route the image and drop the garbage
    junk = spark.createDataFrame(
        [(1, bytearray(b"P6\n8 8\n65535\n" + b"\x10\x01" * 192)),
         (2, bytearray(b"not a ppm at all"))],
        "doc_id long, content binary",
    )
    scratch.fresh("routing-junk")
    got = multimodal.media_dhash_frame_routed(junk, "routing-junk").collect()
    assert [r.doc_id for r in got] == [1]
    assert got[0].dhash == multimodal.dhash_decoded(
        bytes(b"P6\n8 8\n65535\n" + b"\x10\x01" * 192)
    )


def test_decode_ppm_projects_two_byte_samples_to_high_byte(spark):
    """decode_ppm / decode_ppm_stream carry the full P6 grammar now:
    2-byte rasters decode to the high byte at 8-bit depth, and frame
    walking skips 2-byte rasters at the right stride."""
    hdr = b"P6\n2 1\n65535\n"
    raster = bytes([0xAB, 0x12, 0xCD, 0x34, 0xEF, 0x56,
                    0x01, 0x99, 0x02, 0x88, 0x03, 0x77])
    w, h, px = multimodal.decode_ppm(hdr + raster)
    assert (w, h) == (2, 1)
    assert px == [0xAB, 0xCD, 0xEF, 0x01, 0x02, 0x03]
    # a 16-bit frame followed by an 8-bit frame: the walker must use
    # the per-frame sample width to find the second header
    frame8 = b"P6\n1 1\n255\n" + bytes([9, 8, 7])
    count, frames = multimodal.decode_ppm_stream(hdr + raster + frame8)
    assert count == 2
    assert frames[0][2] == [0xAB, 0xCD, 0xEF, 0x01, 0x02, 0x03]
    assert frames[1][2] == [9, 8, 7]


def test_media_dhash_byte_and_char_paths_agree_below_0x80(spark):
    """On sub-0x80 payloads (the synthetic corpus by the _thumb_payload
    33..123 law) the byte-indexed and character-indexed forms are the
    same function — the round-11 sampling change cannot move any
    synthetic-corpus hash."""
    base = spark.range(0, 60, 3).select(F.col("id").alias("doc_id"))
    payloads = spark.createDataFrame(
        base.select("doc_id", multimodal._thumb_payload(8, 8, 0).alias("c"))
        .collect(),
        "doc_id long, content binary",
    )
    rows = multimodal.media_dhash_frame(payloads).join(
        payloads.select(
            "doc_id",
            multimodal._media_dhash_utf8(F.col("content")).alias("utf8"),
        ),
        "doc_id",
    ).collect()
    assert len(rows) == 20
    assert all(r.dhash == r.utf8 for r in rows)


def _thumb_gray_col(d, x, y, bright: int):
    """The former Column form of the synthetic grayscale law, kept as
    the reference _thumb_payload's SQL string is pinned against."""
    ex = F.lit(1) + d % 6
    ey = F.lit(1) + F.floor(d / 6).cast("long") % 6
    return (
        F.lit(33 + bright)
        + d % 38
        + F.when(x >= ex, F.lit(24)).otherwise(F.lit(0))
        + F.when(y >= ey, F.lit(12)).otherwise(F.lit(0))
        + ((x * (F.lit(2) + d % 5) + d % 7) % 4) * 2
        + (x * (F.lit(3) + F.floor(d / 7).cast("long") % 4)
           + F.floor(d / 5).cast("long") % 5) % 3
    )


def _thumb_payload_col(w: int, h: int, bright: int, deep: bool = False):
    """The former Column form of _thumb_payload (8-bit: r = g = b =
    gray; deep: maxval 65535, all six sample bytes char(gray))."""
    d = F.col("doc_id")

    def px(p):
        c = F.char(_thumb_gray_col(d, p % w, F.floor(p / w).cast("long"), bright))
        return F.concat(*[c] * (6 if deep else 3))

    return F.encode(
        F.concat(
            F.lit(f"P6\n{w} {h}\n{65535 if deep else 255}\n"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), F.lit(w * h - 1)), px), ""
            ),
        ),
        "UTF-8",
    )


def test_thumb_payload_sql_matches_column_form(spark):
    """The SQL-string payload is byte-identical to the former Column
    form for every (w, h, bright, deep) variant the synthesizers use
    (plus the brightness test's +5), over doc_ids covering every
    residue the grayscale law keys on."""
    from functools import reduce
    from operator import and_

    variants = [(8, 8, 0, False), (8, 8, 5, False), (8, 8, 9, False),
                (8, 7, 0, False), (8, 8, 0, True)]
    base = spark.range(0, 1260, 1).select(F.col("id").alias("doc_id"))
    cols = []
    for i, (w, h, b, deep) in enumerate(variants):
        cols += [
            multimodal._thumb_payload(w, h, b, deep).alias(f"new{i}"),
            _thumb_payload_col(w, h, b, deep).alias(f"old{i}"),
        ]
    df = base.select(*cols)
    same = [F.col(f"new{i}") == F.col(f"old{i}") for i in range(len(variants))]
    for i in range(len(variants)):
        assert df.schema[f"new{i}"].dataType == df.schema[f"old{i}"].dataType
    assert df.filter(~reduce(and_, same)).count() == 0


def _media_dhash_ladder(content):
    """The former Column form of media_dhash_frame: 64 samples, each
    inlining the header regexes, summed as 63 WHEN bits and NULL-masked
    outside maxval 1..255. Kept only as the reference the three-
    projection form is pinned against."""
    from functools import reduce
    from operator import add

    hx = F.hex(content.substr(F.lit(1), F.lit(32)))
    hdr_pat = r"^50360A((?:3[0-9])+)20((?:3[0-9])+)0A((?:3[0-9])+)0A"

    def digits(group: int):
        return F.regexp_replace(
            F.regexp_extract(hx, hdr_pat, group), "3(.)", "$1"
        ).try_cast("long")

    w, h = digits(1), digits(2)
    raster_off = (F.length(F.regexp_extract(hx, hdr_pat, 0)) / 2).cast("long")

    def sample(i: int, j: int):
        sx = F.floor(F.lit(i) * (w - 1) / 7).cast("long")
        sy = F.floor(F.lit(j) * (h - 1) / 7).cast("long")
        byte = content.substr(raster_off + (sy * w + sx) * 3 + 1, F.lit(1))
        return F.conv(F.hex(byte), 16, 10).cast("long")

    g = [[sample(i, j) for i in range(8)] for j in range(8)]
    bits = [
        F.when(g[j][i + 1] > g[j][i], F.lit(1 << (j * 7 + i))).otherwise(F.lit(0))
        for j in range(8)
        for i in range(7)
    ] + [
        F.when(g[j + 1][0] > g[j][0], F.lit(1 << (56 + j))).otherwise(F.lit(0))
        for j in range(7)
    ]
    return reduce(add, bits).cast("long") * F.when(
        digits(3).between(1, 255), F.lit(1).cast("long")
    )


def _ppm(w: int, h: int, maxval: int, gray) -> bytes:
    """A P6 payload with r = g = b = gray[p] (2-byte big-endian samples
    when maxval > 255)."""
    bps = 2 if maxval > 255 else 1
    raster = b"".join(v.to_bytes(bps, "big") * 3 for v in gray)
    return f"P6\n{w} {h}\n{maxval}\n".encode() + raster


def _threshold_grid() -> list[int]:
    """8x8 gray values whose horizontal and x = 0 vertical neighbours
    differ by exactly -1, 0 or +1, each case many times, around 0x80."""
    col0 = [128]
    for y in range(1, 8):
        col0.append(col0[-1] + y % 3 - 1)
    out = []
    for y in range(8):
        row = [col0[y]]
        for x in range(1, 8):
            row.append(row[-1] + (x + 2 * y) % 3 - 1)
        out += row
    return out


def test_media_dhash_frame_matches_ladder_and_decoded_law(spark):
    """The three-projection media_dhash_frame equals the former Column
    ladder and the pure-Python laws (_py_dhash, dhash_decoded) on the
    edge payloads: gradient thresholds -1/0/+1, NULL content,
    unparseable headers, maxval 1/254/255/256, an 8x7 crop, a 1x1
    image and a 13x9 image that resamples onto the grid."""
    grid = _threshold_grid()
    payloads = {
        1: _ppm(8, 8, 255, grid),
        2: _ppm(8, 8, 255, [v + 1 for v in grid]),
        3: None,
        4: b"not a ppm at all",
        5: b"P6\n8 x\n255\n" + bytes(192),
        6: _ppm(8, 8, 1, [(p * 5 // 3) % 2 for p in range(64)]),
        7: _ppm(8, 8, 254, [(41 * p) % 255 for p in range(64)]),
        8: _ppm(8, 8, 255, [(97 * p + 13) % 256 for p in range(64)]),
        9: _ppm(8, 8, 256, [(97 * p + 13) % 257 for p in range(64)]),
        10: _ppm(8, 7, 255, [(37 * p + 5) % 256 for p in range(56)]),
        11: _ppm(1, 1, 255, [200]),
        12: _ppm(13, 9, 255, [(29 * p + 3) % 256 for p in range(117)]),
    }
    df = spark.createDataFrame(
        [(d, None if c is None else bytearray(c)) for d, c in payloads.items()],
        "doc_id long, content binary",
    )
    rows = multimodal.media_dhash_frame(df).join(
        df.select("doc_id", _media_dhash_ladder(F.col("content")).alias("ladder")),
        "doc_id",
    ).collect()
    got = {r.doc_id: r.dhash for r in rows}
    assert len(got) == len(payloads)
    assert all(r.dhash == r.ladder for r in rows)
    for d in (1, 2, 6, 7, 8, 10, 11, 12):
        assert got[d] is not None
        assert got[d] == _py_dhash(payloads[d]) == multimodal.dhash_decoded(payloads[d]), d
    assert got[1] == got[2] and got[1] > 0  # brightness +1 moves no bit
    assert got[11] == 0
    # 2-byte samples, no payload and unparseable headers take the mask
    for d in (3, 4, 5, 9):
        assert got[d] is None, d
    assert multimodal.dhash_decoded(payloads[9]) is not None
    assert multimodal.dhash_decoded(payloads[4]) is None


def test_media_dhash_frame_plan_is_small(spark):
    """The hash is three small projections: the analyzed plan parses
    the header with at most 4 regex extracts and samples the raster in
    one lambda, with no Python-generated per-sample ladder."""
    df = spark.createDataFrame(
        [(1, bytearray(_ppm(1, 1, 255, [7])))], "doc_id long, content binary"
    )
    analyzed = multimodal.media_dhash_frame(df)._jdf.queryExecution().analyzed()
    text = analyzed.toString()
    assert text.count("regexp_extract(") <= 4
    assert text.count("conv(") == 1
    assert text.count("shiftleft(") == 1


def test_bpe_learn_merges_degenerate_corpora(spark):
    """VERDICT r10 #2: a corpus with no mergeable pair (all single-char
    words, or no words at all) returns the documented EMPTY merge log
    instead of crashing in the empty-branch session lookup."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    empty = spark.createDataFrame([], "doc_id long, text string")
    merges, vocab = text_ops.bpe_learn_merges(empty, n_merges=4)
    assert merges.count() == 0 and vocab.count() == 0
    assert merges.columns == ["merge_rank", "left", "right", "pair_count"]

    single = spark.createDataFrame(
        [(1, "a b c a")], "doc_id long, text string"
    )
    merges2, vocab2 = text_ops.bpe_learn_merges(single, n_merges=4)
    assert merges2.count() == 0
    assert {r.word for r in vocab2.collect()} == {"a", "b", "c"}
