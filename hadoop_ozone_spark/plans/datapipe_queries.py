"""Datapipe query plans + DuckDB oracles (dedup, similarity, text,
multimodal) — the beyond-reference surface mandated by BASELINE.json.

Kept separate from __spark_entry__ so the entry file stays a thin
registry. Every oracle-backed query follows the cross-engine
determinism rules from model.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_ozone_spark import model, scratch
from hadoop_ozone_spark.datapipe import dedup, multimodal, similarity, text


# --- text analysis --------------------------------------------------------

def dp_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(model.load(spark, sf_dir, "documents"))


DP_TOKEN_STATS_SQL = r"""
WITH toks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       len(t) AS n_tokens,
       CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(t) AS mean_token_len,
       length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
       len(list_filter(t, x -> x IN ('the', 'and', 'of'))) AS stopword_hits,
       CAST(len(list_filter(t, x -> x IN ('the', 'and', 'of'))) AS DOUBLE) / len(t) AS stopword_ratio
FROM toks
"""


def dp_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(model.load(spark, sf_dir, "documents"))


DP_LANG_ID_SQL = r"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('the', 'and', 'of'))) AS score_en,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('der', 'die', 'und'))) AS score_de,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('el', 'la', 'que'))) AS score_es,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('le', 'la', 'et'))) AS score_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr
                 AND score_en > 0 THEN 'en'
            WHEN score_de >= score_es AND score_de >= score_fr AND score_de > 0 THEN 'de'
            WHEN score_es >= score_fr AND score_es > 0 THEN 'es'
            WHEN score_fr > 0 THEN 'fr'
            ELSE 'unknown' END AS predicted_lang,
       score_en, score_de, score_es, score_fr
FROM scored
"""


def dp_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(model.load(spark, sf_dir, "documents"))


DP_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_len
FROM documents
"""


def dp_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pass over the dedup corpus (quality gates →
    lang-id → canonical dedup); one map stage + one window shuffle."""
    return text.curation_pipeline(model.dedup_corpus(spark, sf_dir))


DP_CURATION_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    body=r""", feats AS (
  SELECT doc_id, md5(text) AS content_hash,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\s+')) AS mean_token_len,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('the', 'and', 'of'))) AS s_en,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('der', 'die', 'und'))) AS s_de,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('el', 'la', 'que'))) AS s_es,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> x IN ('le', 'la', 'et'))) AS s_fr
  FROM dedup_corpus
), lang AS (
  SELECT *, CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                 WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                 WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                 WHEN s_fr > 0 THEN 'fr'
                 ELSE 'unknown' END AS predicted_lang
  FROM feats
), ok AS (
  SELECT * FROM lang
  WHERE n_tokens >= 10 AND mean_token_len <= 12 AND predicted_lang <> 'unknown'
), canon AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn FROM ok
)
SELECT doc_id, predicted_lang, n_tokens, mean_token_len, content_hash
FROM canon WHERE rn = 1 ORDER BY doc_id""",
)


# --- dedup ----------------------------------------------------------------

def dp_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(model.dedup_corpus(spark, sf_dir))


DP_EXACT_DEDUP_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    body="""SELECT content_hash, canonical_doc_id, n_copies FROM (
  SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
         count(*) AS n_copies
  FROM dedup_corpus GROUP BY md5(text)
) WHERE n_copies >= 2 ORDER BY canonical_doc_id""",
)


def dp_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(model.dedup_corpus(spark, sf_dir), threshold=0.5)


DP_NGRAM_JACCARD_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    body=r""", toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM dedup_corpus
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common, sa.n_shingles AS size_a, sb.n_shingles AS size_b,
       CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
FROM common
JOIN sizes sa ON common.doc_a = sa.doc_id
JOIN sizes sb ON common.doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
ORDER BY doc_a, doc_b""",
)

def dp_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary with relative frequencies (the
    tokenizer-prep aggregate)."""
    return text.vocabulary(model.load(spark, sf_dir, "documents"), top_k=100)


DP_VOCABULARY_SQL = r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), counts AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
)
SELECT token, cnt, round(cnt / (SELECT SUM(cnt) FROM counts), 8) AS freq
FROM counts ORDER BY cnt DESC, token ASC LIMIT 100
"""


def dp_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup groups (connected components by min-label
    propagation) over the n-gram Jaccard pair graph: the canonical
    'keep lowest doc_id per duplicate cluster' assignment. The oracle
    replays the closure with a recursive CTE."""
    pairs = dedup.ngram_jaccard_pairs(model.dedup_corpus(spark, sf_dir), threshold=0.5)
    return dedup.connected_dedup_groups(pairs).orderBy("doc_id")


_PAIRS_CTES = r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM dedup_corpus
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
)"""

DP_DEDUP_GROUPS_SQL = (
    "WITH RECURSIVE "
    + model.DEDUP_CORPUS_CTE.strip()
    + ",\n"
    + _PAIRS_CTES
    + r""",
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE e.dst <> r.src
)
SELECT src AS doc_id, least(src, min(dst)) AS group_id
FROM reach GROUP BY src ORDER BY doc_id"""
)


def dp_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components (min-label
    propagation, datapipe/dedup.py dedup_clusters) over the verified
    minhash pair graph — the transitive keep-one-per-cluster delete
    list, which pair output alone cannot produce (A~B, B~C must group
    A, C). Oracle replays the fixpoint with a recursive CTE."""
    corpus = model.dedup_corpus(spark, sf_dir)
    return dedup.dedup_clusters(
        dedup.minhash_dedup_pairs(corpus, threshold=0.5, portable=True)
    )


def dp_dedup_clusters_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest clustering: CC over yesterday's labels (corpus
    pairs only, doc_id < 1e6) contracted to star edges + today's
    delta-involving pairs (minhash_incremental_pairs). The oracle is
    the BATCH recursive-CTE fixpoint over the full pair graph — the
    incremental path must land on the identical hash (the contraction
    law, also pinned in tests)."""
    corpus = model.dedup_corpus(spark, sf_dir)
    prior = dedup.dedup_clusters(
        dedup.minhash_dedup_pairs(
            corpus.filter(F.col("doc_id") < 1_000_000),
            threshold=0.5,
            portable=True,
        )
    )
    delta_pairs = dedup.minhash_incremental_pairs(
        corpus.filter(F.col("doc_id") < 1_000_000),
        corpus.filter(F.col("doc_id") >= 1_000_000),
        threshold=0.5,
        portable=True,
    )
    return dedup.dedup_clusters_incremental(prior, delta_pairs)


def dp_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the engine-portable md5 hash family, so the
    DuckDB oracle replays signatures, banding, and verification
    value-for-value (the xxhash64 family shares every plan stage and is
    pinned equal by test_minhash_portable_family_matches_fast)."""
    return dedup.minhash_dedup_pairs(
        model.dedup_corpus(spark, sf_dir), threshold=0.5, portable=True
    )


def dp_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest dedup: the injected-copy range (doc_id ≥ 1e6)
    arrives as today's delta; pairs are delta↔corpus and delta↔delta
    only — corpus↔corpus never re-pairs. Same portable hash family, so
    the DuckDB oracle replays the split pipeline value-for-value."""
    corpus = model.dedup_corpus(spark, sf_dir)
    return dedup.minhash_incremental_pairs(
        corpus.filter(F.col("doc_id") < 1_000_000),
        corpus.filter(F.col("doc_id") >= 1_000_000),
        threshold=0.5,
        portable=True,
    )


def dp_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit md5 SimHash with 16-bit blocking chunks (scale: candidate
    pairs Θ(N²/65536) per chunk; recall: pigeonhole over > max_hamming
    chunks). md5-derived bits → the oracle rebuilds fingerprints exactly."""
    return dedup.simhash_pairs(model.dedup_corpus(spark, sf_dir), max_hamming=4)


def _minhash_sql(incremental: bool = False, clusters: bool = False) -> str:
    """DuckDB replay of the portable minhash pipeline, generated from
    the same constants as the Spark plan (NUM_HASHES/BANDS/ROWS_PER_BAND;
    affine lanes (a_k·x + b_k) mod p with the same seeded coefficients,
    mirroring signatures_from_hashed). With ``incremental``, splits the
    corpus at doc_id ≥ 1e6 (the injected-copy range) into existing vs
    delta and replays minhash_incremental_pairs: the delta side drives
    the band join, corpus↔corpus pairs never form."""
    p = dedup.MINHASH_PRIME
    coeffs = dedup._minhash_coefficients(dedup.NUM_HASHES)
    lanes = ",\n         ".join(
        f"list_min(list_transform(hx, x -> ({a} * x + {b}) % {p})) AS s{k}"
        for k, (a, b) in enumerate(coeffs)
    )
    extra = ", is_delta" if incremental else ""
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id{extra}, {b} AS band_id, concat_ws(',', "
        + ", ".join(
            f"CAST(s{b * dedup.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(dedup.ROWS_PER_BAND)
        )
        + ") AS band_key FROM sig"
        for b in range(dedup.BANDS)
    )
    if incremental:
        cand = """  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b,
                  (a.is_delta AND b.is_delta) AS both_delta
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id <> b.doc_id
  WHERE a.is_delta"""
        out = """SELECT doc_a, doc_b, jaccard,
       CASE WHEN both_delta THEN 'delta_delta' ELSE 'delta_corpus' END AS pair_type
FROM (
  SELECT doc_a, doc_b, both_delta,
         CAST(len(list_intersect(ha.h0, hb.h0)) AS DOUBLE)
           / (len(ha.h0) + len(hb.h0) - len(list_intersect(ha.h0, hb.h0))) AS jaccard
  FROM cand
  JOIN hs ha ON cand.doc_a = ha.doc_id
  JOIN hs hb ON cand.doc_b = hb.doc_id
)
WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""
    else:
        cand = """  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id"""
        if clusters:
            # transitive closure over the verified pairs: recursive
            # min-label propagation — DuckDB's WITH RECURSIVE fixpoint
            # (UNION dedup) IS the convergence loop dedup_clusters runs
            out = """SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       doc_id = cluster_id AS keep
FROM (
  WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(ha.h0, hb.h0)) AS DOUBLE)
               / (len(ha.h0) + len(hb.h0) - len(list_intersect(ha.h0, hb.h0)))
               AS jaccard
      FROM cand
      JOIN hs ha ON cand.doc_a = ha.doc_id
      JOIN hs hb ON cand.doc_b = hb.doc_id
    ) WHERE jaccard >= 0.5
  ), sym AS (
    SELECT doc_a AS node, doc_b AS nbr FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
  ), lbl(node, label) AS (
      SELECT node, LEAST(node, MIN(nbr)) FROM sym GROUP BY node
    UNION
      SELECT s.node, l.label FROM sym s JOIN lbl l ON l.node = s.nbr
  )
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM lbl GROUP BY node
)
ORDER BY cluster_id, doc_id"""
        else:
            out = """SELECT doc_a, doc_b, n_common, size_a, size_b, jaccard FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(ha.h0, hb.h0)) AS n_common,
         len(ha.h0) AS size_a, len(hb.h0) AS size_b,
         CAST(len(list_intersect(ha.h0, hb.h0)) AS DOUBLE)
           / (len(ha.h0) + len(hb.h0) - len(list_intersect(ha.h0, hb.h0))) AS jaccard
  FROM cand
  JOIN hs ha ON cand.doc_a = ha.doc_id
  JOIN hs hb ON cand.doc_b = hb.doc_id
)
WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""
    return model.with_ctes(
        model.DEDUP_CORPUS_CTE,
        body=rf""", toks AS (
  SELECT doc_id{extra and ", doc_id >= 1000000 AS is_delta"},
         regexp_split_to_array(trim(text), '\s+') AS t
  FROM dedup_corpus
), shl AS (
  SELECT doc_id{extra}, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sh
  FROM toks
), hs AS (
  SELECT doc_id{extra},
         list_distinct(list_transform(sh, s -> {dedup.md5_lane_sql('s')})) AS h0
  FROM shl WHERE len(sh) > 0
), hxt AS (
  SELECT doc_id{extra}, list_transform(h0, h -> h % {p}) AS hx FROM hs
), sig AS (
  SELECT doc_id{extra},
         {lanes}
  FROM hxt
), bands AS (
  {band_rows}
), cand AS (
{cand}
)
{out}""",
    )


def _simhash_sql(max_hamming: int = 4) -> str:
    """DuckDB replay of the 128-bit simhash pipeline, generated from the
    same chunk layout as the Spark plan."""
    layout = dedup.simhash_chunk_layout(max_hamming)
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ((w{j // 32} >> {j % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{j}"
        for j in range(dedup.SIMHASH_BITS)
    )
    chunk_exprs = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN b{s + i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(w)
        )
        + f" AS BIGINT) AS c{c}"
        for c, (s, w) in enumerate(layout)
    )
    chunk_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {c} AS chunk_id, c{c} AS chunk FROM fp"
        for c in range(len(layout))
    )
    hamming = " + ".join(
        f"bit_count(xor(fa.c{c}, fb.c{c}))" for c in range(len(layout))
    )
    return model.with_ctes(
        model.DEDUP_CORPUS_CTE,
        body=rf""", toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS t
  FROM dedup_corpus
), tokhash AS (
  SELECT doc_id, md5(t) AS h FROM toks
), words AS (
  SELECT doc_id,
         CAST(concat('0x', substring(h, 1, 8)) AS BIGINT) AS w0,
         CAST(concat('0x', substring(h, 9, 8)) AS BIGINT) AS w1,
         CAST(concat('0x', substring(h, 17, 8)) AS BIGINT) AS w2,
         CAST(concat('0x', substring(h, 25, 8)) AS BIGINT) AS w3
  FROM tokhash
), bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM words GROUP BY doc_id
), fp AS (
  SELECT doc_id,
         {chunk_exprs}
  FROM bits
), ch AS (
  {chunk_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ch a JOIN ch b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST({hamming} AS BIGINT) AS hamming
  FROM cand
  JOIN fp fa ON cand.doc_a = fa.doc_id
  JOIN fp fb ON cand.doc_b = fb.doc_id
)
WHERE hamming <= {max_hamming} ORDER BY doc_a, doc_b""",
    )


DP_MINHASH_SQL = _minhash_sql()
DP_DEDUP_CLUSTERS_SQL = _minhash_sql(clusters=True)
DP_MINHASH_INCR_SQL = _minhash_sql(incremental=True)
DP_SIMHASH_SQL = _simhash_sql(max_hamming=4)


# --- similarity search ----------------------------------------------------

def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = model.load(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))


def dp_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = model.load(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _query_vec(spark, sf_dir), k=10)


DP_ANN_BRUTE_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
FROM embeddings, q
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
"""

BUCKET_SQL_EXPR = """list_sum(list_transform(generate_series(0, 5),
       p -> CASE WHEN list_sum(list_transform(generate_series(0, len(ve) - 1),
                      d -> ve[d+1] * CAST(((p*31 + d*7) % 13 - 6) AS DOUBLE))) > 0
                 THEN (1 << p) ELSE 0 END))"""


def dp_ann_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.bucket_histogram(model.load(spark, sf_dir, "embeddings"))


DP_ANN_BUCKETS_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
SELECT CAST({BUCKET_SQL_EXPR} AS INTEGER) AS bucket_id, count(*) AS n_vectors
FROM v GROUP BY 1 ORDER BY bucket_id
"""


def dp_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = model.load(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk(emb, _query_vec(spark, sf_dir), k=10)


def dp_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant: scan the query bucket plus its Hamming-1
    ball (7 of 64 buckets) — recall recovery without rebuilding the
    index (see BENCH_NOTES.md ANN probe: r=1 → recall 1.0)."""
    emb = model.load(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk(emb, _query_vec(spark, sf_dir), k=10, probe_radius=1)


DP_ANN_BUCKETED_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
b AS (SELECT vec_id, ve, CAST({BUCKET_SQL_EXPR} AS INTEGER) AS bucket_id FROM v),
q AS (SELECT ve AS qv, bucket_id AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(ve, qv) /
             (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
FROM b, q WHERE b.bucket_id = q.qbucket
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
"""

# hamming distance over the 6 plane bits, unrolled (engine-portable —
# no popcount builtin needed)
_HAMMING_6 = " + ".join(
    f"CASE WHEN ((bucket_id >> {p}) & 1) <> ((qbucket >> {p}) & 1) THEN 1 ELSE 0 END"
    for p in range(6)
)

DP_ANN_MULTIPROBE_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
b AS (SELECT vec_id, ve, CAST({BUCKET_SQL_EXPR} AS INTEGER) AS bucket_id FROM v),
q AS (SELECT ve AS qv, bucket_id AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(ve, qv) /
             (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
FROM b, q WHERE ({_HAMMING_6}) <= 1
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
"""


def dp_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat probe: nearest-centroid inverted lists (deterministic
    seed codebook — oracle-replayable; a trained codebook drops in via
    the centroids argument), query probes the 4 best of 16 lists."""
    emb = model.load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_lists=16, nprobe=4
    )


_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)

DP_ANN_IVF_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
c AS (SELECT vec_id AS list_id, ve AS cv FROM v WHERE vec_id < 16),
assign AS (
  SELECT vec_id, ve, list_id FROM (
    SELECT v.vec_id, v.ve, c.list_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.ve', b='c.cv')} DESC, c.list_id ASC) AS rn
    FROM v, c
  ) WHERE rn = 1
),
q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
probes AS (
  SELECT list_id FROM c, q
  ORDER BY {_COS.format(a='c.cv', b='qv')} DESC, list_id ASC LIMIT 4
)
SELECT vec_id, {_COS.format(a='ve', b='qv')} AS cosine_sim
FROM assign JOIN probes USING (list_id), q
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
"""


# --- multimodal -----------------------------------------------------------

def dp_media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synthesize_media(model.load(spark, sf_dir, "documents"))
    return multimodal.resize_plan(media)


DP_MEDIA_RESIZE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       doc_id % 640 + 32 AS width,
       doc_id % 480 + 32 AS height,
       224 / (doc_id % 640 + 32) AS scale_x,
       224 / (doc_id % 480 + 32) AS scale_y
FROM documents
"""


def dp_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 10th frame of each video clip, located by walking the
    PPM-stream headers and DECODED to pixel features (the synthesis is
    deterministic byte math — frame f's raster is the text window
    starting at byte f, '='-padded — so the DuckDB oracle replays the
    decode: the sampled frame's pixels, their exact-int sum/max, one
    final division)."""
    media = multimodal.synthesize_media(model.load(spark, sf_dir, "documents"))
    return multimodal.frame_sample(media)


DP_FRAME_SAMPLE_SQL = """
WITH m AS (
  SELECT doc_id, text,
         doc_id % 4 + 1 AS w, doc_id % 5 + 1 AS h,
         (doc_id % 4 + 1) * (doc_id % 5 + 1) * 3 AS npx,
         text || repeat('=', 89) AS padded
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, w, h, npx, padded,
         unnest(generate_series(0, CAST(doc_id % 30 AS BIGINT), 10)) AS frame_idx
  FROM m
),
px AS (
  SELECT doc_id, frame_idx, w, h,
         list_transform(generate_series(1, npx),
           i -> unicode(substring(padded, CAST(frame_idx + i AS INTEGER), 1))) AS p
  FROM f
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(w AS BIGINT) AS frame_w, CAST(h AS BIGINT) AS frame_h,
       CAST(list_sum(p) AS DOUBLE) / (255.0 * len(p)) AS frame_mean,
       CAST(list_max(p) AS DOUBLE) / 255.0 AS frame_max
FROM px
"""


def dp_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over the binary column. Image
    payloads are REAL PPM (P6) files decoded by a real parser (magic +
    header + raster — multimodal.decode_ppm); video payloads are PPM
    STREAMS whose frame count is counted by walking every frame header
    and whose features come from the first frame's decoded raster
    (multimodal.decode_ppm_stream); audio is a u8 PCM window. The
    synthesis is deterministic byte math (pixels = the doc's leading
    bytes, '='-padded; the corpus is ASCII so char codes == bytes), so
    the DuckDB oracle replays the whole decode: per-frame size is
    11 + npx since header 11 = len('P6\\n') + 1 + 1 + 1 +
    len('\\n255\\n') with single-digit w ≤ 4, h ≤ 5; a video's
    n_bytes is (doc_id%30+1)·(11+npx); a video's first frame equals
    the image raster law. Features are exact-int sums with one final
    division."""
    media = multimodal.synthesize_media(model.load(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


DP_MEDIA_FEATURES_SQL = """
WITH m AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         doc_id % 4 + 1 AS w, doc_id % 5 + 1 AS h,
         (doc_id % 4 + 1) * (doc_id % 5 + 1) * 3 AS npx
  FROM documents
),
px AS (
  SELECT doc_id, media_type, w, h,
    CASE WHEN media_type = 'audio'
      THEN list_transform(generate_series(1, least(length(text), 256)),
             i -> unicode(substring(text, i, 1)))
      ELSE list_transform(generate_series(1, npx),
             i -> CASE WHEN i <= length(text)
                       THEN unicode(substring(text, i, 1)) ELSE 61 END)
    END AS p,
    CASE WHEN media_type = 'image' THEN 11 + npx
         WHEN media_type = 'video' THEN (doc_id % 30 + 1) * (11 + npx)
         ELSE octet_length(encode(text)) END AS n_bytes
  FROM m
)
SELECT doc_id, media_type,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CASE WHEN len(p) > 0
            THEN CAST(list_sum(p) AS DOUBLE) / (255.0 * len(p)) ELSE 0.0
       END AS feat_mean,
       CASE WHEN len(p) > 0
            THEN CAST(list_max(p) AS DOUBLE) / 255.0 ELSE 0.0
       END AS feat_max,
       doc_id % 30 + 1 AS frame_count,
       CAST(CASE WHEN media_type = 'audio' THEN 0 ELSE w END AS BIGINT) AS decoded_width,
       CAST(CASE WHEN media_type = 'audio' THEN 0 ELSE h END AS BIGINT) AS decoded_height
FROM px
"""


QUERIES = {
    "dp_token_stats": dp_token_stats,
    "dp_lang_id": dp_lang_id,
    "dp_fingerprint": dp_fingerprint,
    "dp_curation_pipeline": dp_curation_pipeline,
    "dp_exact_dedup": dp_exact_dedup,
    "dp_ngram_jaccard": dp_ngram_jaccard,
    "dp_vocabulary": dp_vocabulary,
    "dp_dedup_groups": dp_dedup_groups,
    "dp_minhash_pairs": dp_minhash_pairs,
    "dp_dedup_clusters": dp_dedup_clusters,
    "dp_dedup_clusters_incr": dp_dedup_clusters_incr,
    "dp_minhash_incremental": dp_minhash_incremental,
    "dp_simhash_pairs": dp_simhash_pairs,
    "dp_ann_brute_topk": dp_ann_brute_topk,
    "dp_ann_bucket_histogram": dp_ann_bucket_histogram,
    "dp_ann_bucketed_topk": dp_ann_bucketed_topk,
    "dp_ann_multiprobe_topk": dp_ann_multiprobe_topk,
    "dp_ann_ivf_topk": dp_ann_ivf_topk,
    "dp_media_resize_plan": dp_media_resize_plan,
    "dp_media_frame_sample": dp_media_frame_sample,
    "dp_media_features": dp_media_features,
}

ORACLES = {
    "dp_token_stats": DP_TOKEN_STATS_SQL,
    "dp_lang_id": DP_LANG_ID_SQL,
    "dp_fingerprint": DP_FINGERPRINT_SQL,
    "dp_curation_pipeline": DP_CURATION_SQL,
    "dp_exact_dedup": DP_EXACT_DEDUP_SQL,
    "dp_ngram_jaccard": DP_NGRAM_JACCARD_SQL,
    "dp_vocabulary": DP_VOCABULARY_SQL,
    "dp_dedup_groups": DP_DEDUP_GROUPS_SQL,
    "dp_ann_brute_topk": DP_ANN_BRUTE_SQL,
    "dp_ann_bucket_histogram": DP_ANN_BUCKETS_SQL,
    "dp_ann_bucketed_topk": DP_ANN_BUCKETED_SQL,
    "dp_ann_multiprobe_topk": DP_ANN_MULTIPROBE_SQL,
    "dp_ann_ivf_topk": DP_ANN_IVF_SQL,
    "dp_media_resize_plan": DP_MEDIA_RESIZE_SQL,
    "dp_media_frame_sample": DP_FRAME_SAMPLE_SQL,
    "dp_minhash_pairs": DP_MINHASH_SQL,
    "dp_dedup_clusters": DP_DEDUP_CLUSTERS_SQL,
    "dp_dedup_clusters_incr": DP_DEDUP_CLUSTERS_SQL,
    "dp_minhash_incremental": DP_MINHASH_INCR_SQL,
    "dp_simhash_pairs": DP_SIMHASH_SQL,
    "dp_media_features": DP_MEDIA_FEATURES_SQL,
}


# --- round 2: repetition quality, PII redaction, decontamination ----------

def dp_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals over the dedup corpus (the
    injected copies give non-trivial distributions)."""
    return text.repetition_features(model.dedup_corpus(spark, sf_dir)).orderBy("doc_id")


DP_REPETITION_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    body=r""", toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM dedup_corpus
), g AS (
  SELECT doc_id, t, list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS grams
  FROM toks
), topc AS (
  SELECT doc_id, max(c) AS top_cnt FROM (
    SELECT doc_id, tok, count(*) AS c FROM (
      SELECT doc_id, unnest(t) AS tok FROM toks
    ) GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT g.doc_id, len(t) AS n_tokens,
       CASE WHEN len(grams) > 0
            THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
            ELSE 0.0 END AS dup_3gram_frac,
       CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_token_ratio,
       CAST(top_cnt AS DOUBLE) / len(t) AS top_token_share
FROM g JOIN topc ON g.doc_id = topc.doc_id
ORDER BY g.doc_id""",
)


def _pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic PII injections (both engines build
    the identical corpus)."""
    docs = model.load(spark, sf_dir, "documents")
    t = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" contact alice.smith@example.com now")))
        .when(F.col("doc_id") % 7 == 0,
              F.concat(F.col("text"), F.lit(" call +1 555-123-4567 or 555.987.6543")))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", t.alias("text"))


def dp_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_redact(_pii_corpus(spark, sf_dir)).orderBy("doc_id")


PII_CORPUS_CTE = """
pii_corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN concat(text, ' contact alice.smith@example.com now')
              WHEN doc_id % 7 = 0 THEN concat(text, ' call +1 555-123-4567 or 555.987.6543')
              ELSE text END AS text
  FROM documents
)"""

DP_PII_SQL = model.with_ctes(
    PII_CORPUS_CTE,
    body=f"""SELECT doc_id,
       len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(regexp_replace(text, '{text.PII_EMAIL}', '<EMAIL>', 'g'),
           '{text.PII_PHONE}')) AS n_phones,
       regexp_replace(regexp_replace(text, '{text.PII_EMAIL}', '<EMAIL>', 'g'),
           '{text.PII_PHONE}', '<PHONE>', 'g') AS redacted_text
FROM pii_corpus ORDER BY doc_id""",
)


def dp_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval set = the first 10 tokens of
    every doc_id % 97 == 0 document; training docs sharing ≥2 trigram
    shingles with any eval doc are flagged. The corpus' injected copies
    make contaminated NON-bench docs appear (the leak case that
    matters)."""
    corpus = model.dedup_corpus(spark, sf_dir)
    bench = corpus.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(text.tokens(F.col("text")), 1, 10), " ").alias("text"),
    )
    return text.decontaminate(corpus, bench, min_hits=2).orderBy("doc_id")


DP_DECONTAM_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    body=rf""", bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(regexp_split_to_array(trim(text), '\s+')[1:10], ' ') AS text
  FROM dedup_corpus WHERE doc_id % 97 = 0
), dsh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2])),
           s -> {dedup.md5_lane_sql('s')}))) AS h
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM dedup_corpus)
), bsh AS (
  SELECT bench_id, unnest(list_distinct(list_transform(
           list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2])),
           s -> {dedup.md5_lane_sql('s')}))) AS h
  FROM (SELECT bench_id, regexp_split_to_array(trim(text), '\s+') AS t FROM bench)
), per_bench AS (
  SELECT doc_id, bench_id, count(*) AS n_shared
  FROM dsh JOIN bsh USING (h) GROUP BY doc_id, bench_id
), hits AS (
  SELECT doc_id, CAST(sum(n_shared) AS BIGINT) AS n_hits,
         arg_max(bench_id, n_shared * 1000000000 + bench_id) AS hit_benchmark_id
  FROM per_bench GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) >= 2 AS contaminated,
       h.hit_benchmark_id
FROM (SELECT doc_id FROM dedup_corpus) c
LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id""",
)

QUERIES["dp_repetition"] = dp_repetition
QUERIES["dp_pii_redact"] = dp_pii_redact
QUERIES["dp_decontaminate"] = dp_decontaminate
ORACLES["dp_repetition"] = DP_REPETITION_SQL
ORACLES["dp_pii_redact"] = DP_PII_SQL
ORACLES["dp_decontaminate"] = DP_DECONTAM_SQL


# --- round 2: batch kNN join ----------------------------------------------

def dp_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch kNN join (every vec_id % 50 == 7 vector queries the
    corpus for its top-5). The oracle-checkable answer key; the
    LSH-bucketed variant (knn_join_bucketed) shares the scoring + top-k
    plan and is recall-pinned against this in test_knn_join_recall."""
    emb = model.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.knn_join_brute(emb, queries, k=5).orderBy("query_id", "rank")


DP_KNN_JOIN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 7
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM embeddings e, q
), ranked AS (
  SELECT query_id, vec_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine_sim
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

QUERIES["dp_ann_knn_join"] = dp_ann_knn_join
ORACLES["dp_ann_knn_join"] = DP_KNN_JOIN_SQL


# --- round 3: mixture sampling + sequence packing -------------------------

MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.8, "src2": 0.5, "src3": 0.25, "src5": 0.1}


def dp_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture draw over documents: per-source
    sampling rates applied by an engine-portable doc_id hash (map-only;
    datapipe/packing.py scale note)."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.mixture_sample(
        model.load(spark, sf_dir, "documents"), MIXTURE_WEIGHTS
    )


_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in MIXTURE_WEIGHTS.items()
)

DP_MIXTURE_SQL = rf"""
SELECT source, count(*) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
FROM documents
WHERE (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       % 1000000) / 1000000.0
      < (CASE source {_MIX_CASE} ELSE 0.0 END)
GROUP BY source ORDER BY source
"""


def dp_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: concatenate-and-chunk docs into 2048-token
    context windows, packed per 10k-doc shard (parallel windows, no
    global sort; datapipe/packing.py scale note)."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.pack_plan(
        model.load(spark, sf_dir, "documents"), context_len=2048, shard_size=10_000
    )


DP_PACK_SQL = r"""
WITH toks AS (
  SELECT doc_id, doc_id // 10000 AS shard,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
)
SELECT shard, CAST(cum_before // 2048 AS BIGINT) AS bin,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM cum GROUP BY shard, bin ORDER BY shard, bin
"""

QUERIES["dp_mixture_sample"] = dp_mixture_sample
QUERIES["dp_pack_plan"] = dp_pack_plan
ORACLES["dp_mixture_sample"] = DP_MIXTURE_SQL
ORACLES["dp_pack_plan"] = DP_PACK_SQL


def dp_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate detection over the dedup corpus:
    20-token windows hashed and flagged when shared by ≥2 docs — the
    repeated-paragraph pass; catches the injected exact AND near
    duplicates (a copy with appended tokens still shares every aligned
    window)."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    return text_ops.chunk_dedup(
        model.dedup_corpus(spark, sf_dir), chunk_tokens=20, min_docs=2
    )


DP_CHUNK_DEDUP_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(COALESCE(text, '')), '\s+') AS t
  FROM dedup_corpus
)""",
    """base AS (
  SELECT doc_id, t, CAST(len(t) // 20 AS BIGINT) AS n_chunks FROM toks
)""",
    """chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(n_chunks),
           i -> md5(array_to_string(list_slice(t, i*20+1, i*20+20), ' ')))) AS chunk_hash
  FROM base WHERE n_chunks > 0
)""",
    """boiler AS (
  SELECT chunk_hash FROM chunks
  GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
)""",
    """perdoc AS (
  SELECT c.doc_id, count(*) AS bp
  FROM chunks c JOIN boiler b USING (chunk_hash)
  GROUP BY c.doc_id
)""",
    body="""SELECT base.doc_id, base.n_chunks,
  CAST(COALESCE(p.bp, 0) AS BIGINT) AS boilerplate_chunks
FROM base LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc_id""",
)


def dp_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram corpus-frequency quality score per document — mean token
    frequency in ppm of corpus occurrences, exact-integer (the
    engine-portable unigram-LM proxy; datapipe/text.py law)."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    return text_ops.unigram_freq_score(model.load(spark, sf_dir, "documents"))


DP_UNIGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab
), perdoc AS (
  SELECT t.doc_id, count(*) AS n_tokens, CAST(SUM(v.cnt) AS BIGINT) AS sum_cnt
  FROM toks t JOIN vocab v USING (tok) GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
  CAST((CAST(1000000 AS HUGEINT) * sum_cnt) // (CAST(n_tokens AS HUGEINT) * n_total) AS BIGINT) AS mean_token_freq_ppm
FROM perdoc CROSS JOIN total ORDER BY doc_id
"""


def dp_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: seeded hash shard + within-
    shard position (per-shard window, no global sort —
    datapipe/packing.py scale note)."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.train_order(
        model.load(spark, sf_dir, "documents"), n_shards=8, seed="42"
    )


DP_TRAIN_ORDER_SQL = """
WITH lanes AS (
  SELECT doc_id,
    CAST(concat('0x', substring(md5(concat('42#', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS lane
  FROM documents
)
SELECT doc_id, lane % 8 AS shard,
  CAST(row_number() OVER (PARTITION BY lane % 8 ORDER BY lane, doc_id) AS BIGINT) AS pos
FROM lanes ORDER BY shard, pos
"""

QUERIES["dp_chunk_dedup"] = dp_chunk_dedup
QUERIES["dp_unigram_quality"] = dp_unigram_quality
QUERIES["dp_train_order"] = dp_train_order
ORACLES["dp_chunk_dedup"] = DP_CHUNK_DEDUP_SQL
ORACLES["dp_unigram_quality"] = DP_UNIGRAM_SQL
ORACLES["dp_train_order"] = DP_TRAIN_ORDER_SQL


def dp_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting per source
    (datapipe/packing.py split_assign — disjoint hash-lane ranges)."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.split_assign(model.load(spark, sf_dir, "documents"))


DP_SPLIT_SQL = r"""
WITH lanes AS (
  SELECT source,
    (CAST(concat('0x', substring(md5(concat('split42#', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
     % 1000000) / 1000000.0 AS u,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
)
SELECT source,
  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
  count(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM lanes
GROUP BY 1, 2
ORDER BY source, split
"""

QUERIES["dp_split_assign"] = dp_split_assign
ORACLES["dp_split_assign"] = DP_SPLIT_SQL


def dp_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split exact-duplicate contamination audit
    (datapipe/packing.py split_leakage — fingerprints straddling the
    split_assign hash-lane law). Runs on dedup_corpus: the injected
    exact twins (doc_id%7 → +2e6) get independent split lanes, so a
    third of them straddle — the driver corpus itself is all-distinct."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.split_leakage(model.dedup_corpus(spark, sf_dir))


DP_SPLIT_LEAKAGE_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    body=r""", lanes AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
    CASE
      WHEN (CAST(concat('0x', substring(md5(concat('split42#', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
            % 1000000) / 1000000.0 < 0.8 THEN 'train'
      WHEN (CAST(concat('0x', substring(md5(concat('split42#', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
            % 1000000) / 1000000.0 < 0.9 THEN 'val'
      ELSE 'test'
    END AS split
  FROM dedup_corpus
),
per_fp AS (
  SELECT fingerprint,
         array_to_string(list_sort(list(DISTINCT split)), '+') AS splits,
         count(DISTINCT split) AS n_splits,
         count(*) AS n_docs
  FROM lanes GROUP BY fingerprint
)
SELECT splits,
       count(*) AS n_fingerprints,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs
FROM per_fp WHERE n_splits >= 2
GROUP BY splits ORDER BY splits
""",
)

QUERIES["dp_split_leakage"] = dp_split_leakage
ORACLES["dp_split_leakage"] = DP_SPLIT_LEAKAGE_SQL


def dp_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio filter threshold sweep — docs/tokens kept per
    ppm rung (datapipe/text.py quality_threshold_sweep; one corpus
    pass + constant-size ladder window)."""
    return text.quality_threshold_sweep(model.load(spark, sf_dir, "documents"))


DP_QUALITY_SWEEP_SQL = r"""
WITH scored AS (
  SELECT
    len(list_filter(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                    x -> x IN ('the', 'and', 'of'))) * 1000000 AS num,
    len(regexp_split_to_array(trim(COALESCE(text, '')), '\s+')) AS den
  FROM documents
),
bucketed AS (
  SELECT LEAST(num // (den * 20000), 9) * 20000 AS bucket_ppm,
         count(*) AS b_docs,
         SUM(den) AS b_tokens
  FROM scored GROUP BY 1
),
ladder AS (SELECT i * 20000 AS threshold_ppm FROM range(0, 10) t(i)),
joined AS (
  SELECT threshold_ppm,
         COALESCE(b_docs, 0) AS b_docs,
         COALESCE(b_tokens, 0) AS b_tokens
  FROM ladder LEFT JOIN bucketed ON bucket_ppm = threshold_ppm
)
SELECT CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
       CAST(SUM(b_docs) OVER w AS BIGINT) AS n_docs_kept,
       CAST(SUM(b_tokens) OVER w AS BIGINT) AS n_tokens_kept,
       CAST((SUM(b_docs) OVER w) * 1000000 // (SUM(b_docs) OVER ()) AS BIGINT)
         AS docs_kept_ppm
FROM joined
WINDOW w AS (ORDER BY threshold_ppm DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY threshold_ppm
"""

QUERIES["dp_quality_sweep"] = dp_quality_sweep
ORACLES["dp_quality_sweep"] = DP_QUALITY_SWEEP_SQL


def dp_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each transitive
    duplicate group, keep the member with the highest unigram
    corpus-frequency quality score (tie → lowest doc_id) — what a
    production pipeline does instead of blind keep-first (the best
    duplicate often differs from the oldest). Composes the connected
    groups with the exact-integer quality signal; the keep flag is a
    per-group window over ≤|group| rows."""
    from hadoop_ozone_spark.datapipe import text as text_ops
    from pyspark.sql import Window

    corpus = model.dedup_corpus(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.5)
    groups = dedup.connected_dedup_groups(pairs)
    scores = text_ops.unigram_freq_score(corpus).select(
        "doc_id", "mean_token_freq_ppm"
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("mean_token_freq_ppm"), F.asc("doc_id")
    )
    return (
        groups.join(scores, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "group_id", "mean_token_freq_ppm", "keep")
        .orderBy("doc_id")
    )


DP_KEEP_BEST_SQL = (
    "WITH RECURSIVE "
    + model.DEDUP_CORPUS_CTE.strip()
    + ",\n"
    + _PAIRS_CTES
    + r""",
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  WHERE e.dst <> r.src
),
groups AS (
  SELECT src AS doc_id, least(src, min(dst)) AS group_id
  FROM reach GROUP BY src
),
utoks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM dedup_corpus
),
vocab AS (SELECT tok, count(*) AS cnt FROM utoks GROUP BY tok),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
perdoc AS (
  SELECT t.doc_id, count(*) AS n_tokens, CAST(SUM(v.cnt) AS BIGINT) AS sum_cnt
  FROM utoks t JOIN vocab v USING (tok) GROUP BY t.doc_id
),
scores AS (
  SELECT doc_id,
    CAST((CAST(1000000 AS HUGEINT) * sum_cnt) // (CAST(n_tokens AS HUGEINT) * n_total) AS BIGINT) AS mean_token_freq_ppm
  FROM perdoc CROSS JOIN total
)
SELECT g.doc_id, g.group_id, s.mean_token_freq_ppm,
  row_number() OVER (PARTITION BY g.group_id
                     ORDER BY s.mean_token_freq_ppm DESC, g.doc_id) = 1 AS keep
FROM groups g JOIN scores s USING (doc_id)
ORDER BY g.doc_id"""
)

QUERIES["dp_dedup_keep_best"] = dp_dedup_keep_best
ORACLES["dp_dedup_keep_best"] = DP_KEEP_BEST_SQL


TOKEN_BUDGETS = {"src0": 100_000, "src1": 800, "src2": 400, "src3": 1_000_000}


def dp_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture draw: per-source sampling rates DERIVED from
    the corpus token totals against absolute token budgets
    (datapipe/packing.py budget_sample law)."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.budget_sample(
        model.load(spark, sf_dir, "documents"), TOKEN_BUDGETS
    )


_BUDGET_CASE = " ".join(
    f"WHEN '{s}' THEN {b}" for s, b in TOKEN_BUDGETS.items()
)

DP_BUDGET_SQL = rf"""
WITH toks AS (
  SELECT source, doc_id,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), per_source AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
    CAST(COALESCE(CASE source {_BUDGET_CASE} END, 0) AS BIGINT) AS budget_tokens,
    LEAST(CAST(1000000 AS BIGINT),
          (1000000 * CAST(COALESCE(CASE source {_BUDGET_CASE} END, 0) AS BIGINT))
            // CAST(SUM(n_tokens) AS BIGINT)) AS rate_ppm
  FROM toks GROUP BY source
), drawn AS (
  SELECT t.source, count(*) AS n_docs, CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
  FROM toks t JOIN per_source p USING (source)
  WHERE (CAST(concat('0x', substring(md5(concat('budget42#', CAST(t.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         % 1000000) < p.rate_ppm
  GROUP BY t.source
)
SELECT p.source, COALESCE(d.n_docs, 0) AS n_docs,
  COALESCE(d.n_tokens, 0) AS n_tokens,
  p.rate_ppm, p.budget_tokens
FROM per_source p LEFT JOIN drawn d USING (source)
ORDER BY p.source
"""

QUERIES["dp_budget_sample"] = dp_budget_sample
ORACLES["dp_budget_sample"] = DP_BUDGET_SQL


# --- SemDeDup-style semantic dedup ----------------------------------------

def dp_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster semantic dedup (SemDeDup): IVF centroid
    assignment, pairwise cosine WITHIN clusters only, min-id keeper —
    datapipe/similarity.py semantic_dedup_pairs. Runs on the corpus
    with injected scaled copies (cosine exactly 1.0) so the detector
    has verifiable positives."""
    emb = model.embedding_corpus(spark, sf_dir)
    return similarity.semantic_dedup_pairs(emb, n_lists=16, threshold=0.9)


DP_SEMANTIC_DEDUP_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embedding_corpus)""",
    """c AS (SELECT vec_id AS list_id, ve AS cv FROM v WHERE vec_id < 16)""",
    f"""assign AS (
  SELECT vec_id, ve, list_id FROM (
    SELECT v.vec_id, v.ve, c.list_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.ve', b='c.cv')} DESC, c.list_id ASC) AS rn
    FROM v, c
  ) WHERE rn = 1
)""",
    f"""hits AS (
  SELECT a.list_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_COS.format(a='a.ve', b='b.ve')} AS cosine_sim
  FROM assign a JOIN assign b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE {_COS.format(a='a.ve', b='b.ve')} >= 0.9
)""",
    body="""SELECT list_id, vec_b AS vec_id, vec_a AS dup_of, cosine_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_b ORDER BY vec_a) AS rn
  FROM hits
) WHERE rn = 1 ORDER BY vec_id""",
)

QUERIES["dp_semantic_dedup"] = dp_semantic_dedup
ORACLES["dp_semantic_dedup"] = DP_SEMANTIC_DEDUP_SQL


# --- Lloyd step (codebook training primitive) ------------------------------

def dp_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of the IVF/SemDeDup codebook trainer over
    the embedding corpus (similarity.kmeans_step): per-cluster member
    count + the re-estimated centroid's norm (rounded — the scalar
    summary keeps the oracle hash array-free). Every seed centroid is
    its own nearest neighbour (cosine 1.0), so no cluster is empty and
    the empty-cluster fallback branch never fires on this corpus."""
    emb = model.embedding_corpus(spark, sf_dir)
    step = similarity.kmeans_step(emb, similarity.ivf_centroids(emb, 16))
    return step.select(
        "list_id",
        "n_members",
        F.round(similarity.norm(F.col("cvec")), 6).alias("centroid_norm"),
    ).orderBy("list_id")


DP_KMEANS_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embedding_corpus)""",
    """c AS (SELECT vec_id AS list_id, ve AS cv FROM v WHERE vec_id < 16)""",
    f"""assign AS (
  SELECT vec_id, ve, list_id FROM (
    SELECT v.vec_id, v.ve, c.list_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.ve', b='c.cv')} DESC, c.list_id ASC) AS rn
    FROM v, c
  ) WHERE rn = 1
)""",
    """dim_sums AS (
  -- sequential vec_id-ordered fold: bit-identical to the Spark side's
  -- array_sort(collect_list)+aggregate discipline (ADVICE r5), unlike
  -- SUM whose addition order is engine/partition dependent
  SELECT list_id, d,
         list_reduce(list(ve[d] ORDER BY vec_id), (a, b) -> a + b) AS sx
  FROM assign, unnest(generate_series(1, len(ve))) AS s(d)
  GROUP BY list_id, d
)""",
    """members AS (
  SELECT list_id, count(*) AS n_members FROM assign GROUP BY list_id
)""",
    body="""SELECT m.list_id, m.n_members,
  round(sqrt(list_sum(list_transform(
    (SELECT list(ds.sx / m.n_members ORDER BY ds.d)
     FROM dim_sums ds WHERE ds.list_id = m.list_id),
    x -> x * x))), 6) AS centroid_norm
FROM members m
ORDER BY m.list_id""",
)

QUERIES["dp_kmeans_step"] = dp_kmeans_step
ORACLES["dp_kmeans_step"] = DP_KMEANS_SQL


# --- BPE merge-selection step (round 6) ------------------------------------

def dp_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequency-weighted adjacent character pairs over the
    word-frequency table — the merge-selection step of BPE tokenizer
    training (datapipe/text.py bpe_pair_counts)."""
    return text.bpe_pair_counts(model.load(spark, sf_dir, "documents"), top_k=20)


DP_BPE_SQL = r"""
WITH words AS (
  SELECT w AS word FROM documents,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t(w)
  WHERE length(w) >= 2
), vocab AS (
  SELECT word, count(*) AS freq FROM words GROUP BY word
), pairs AS (
  SELECT substring(word, i, 2) AS pair, freq
  FROM vocab, unnest(generate_series(1, length(word) - 1)) AS s(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT 20
"""

QUERIES["dp_bpe_pair_counts"] = dp_bpe_pair_counts
ORACLES["dp_bpe_pair_counts"] = DP_BPE_SQL


# --- Stratified quality sampling (round 6) ---------------------------------

def dp_quality_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-decile sampling accounting (keep the best
    deciles, thin the middle, drop the tail — datapipe/packing.py
    stratified_quality_sample, md5-lane draw)."""
    from hadoop_ozone_spark.datapipe import packing

    return packing.stratified_quality_sample(
        model.load(spark, sf_dir, "documents")
    )


DP_STRATA_SQL = r"""
WITH ranked AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS score,
         ntile(10) OVER (PARTITION BY source
                         ORDER BY len(regexp_split_to_array(trim(text), '\s+')),
                                  doc_id) AS stratum
  FROM documents
), drawn AS (
  SELECT *,
         CASE WHEN stratum <= 3 THEN 0.1
              WHEN stratum <= 7 THEN 0.5 ELSE 1.0 END AS rate,
         (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000) / 1000000.0
           < CASE WHEN stratum <= 3 THEN 0.1
                  WHEN stratum <= 7 THEN 0.5 ELSE 1.0 END AS kept
  FROM ranked
)
SELECT source, stratum, count(*) AS n_docs,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN score ELSE 0 END) AS BIGINT) AS kept_tokens,
       MAX(rate) AS target_rate,
       round(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS realized_rate
FROM drawn GROUP BY source, stratum
ORDER BY source, stratum
"""

QUERIES["dp_quality_strata"] = dp_quality_strata
ORACLES["dp_quality_strata"] = DP_STRATA_SQL


# --- PQ (product quantization) ANN (round 6) -------------------------------

def dp_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for probe vector 10 over the PQ-coded corpus
    (datapipe/similarity.py pq_codebooks/pq_encode/pq_topk — Jégou et
    al. 2011): 64 floats → 8 codes, per-query (8 × 16) lookup table,
    sub_id-ordered sequential score fold. The injected scaled copy of
    the probe (vec 1000010) quantizes to identical codes and must rank
    first at ADC distance 0."""
    return similarity.pq_topk(
        model.embedding_corpus(spark, sf_dir), probe_vec_id=10, k=10
    )


DP_PQ_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embedding_corpus)""",
    """pq_cb AS (
  SELECT s AS sub_id, CAST(vec_id AS INTEGER) AS code,
         list_slice(ve, s * 8 + 1, s * 8 + 8) AS cvec
  FROM v, unnest(generate_series(0, 7)) AS t(s)
  WHERE vec_id < 16
)""",
    """pq_subv AS (
  SELECT vec_id, s AS sub_id, list_slice(ve, s * 8 + 1, s * 8 + 8) AS svec
  FROM v, unnest(generate_series(0, 7)) AS t(s)
)""",
    """pq_best AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT sv.vec_id, sv.sub_id, c.code,
           round(list_reduce(list_transform(generate_series(1, 8),
                 i -> (sv.svec[i] - c.cvec[i]) * (sv.svec[i] - c.cvec[i])),
                 (x, y) -> x + y), 6) AS d,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub_id
                              ORDER BY round(list_reduce(list_transform(
                                generate_series(1, 8),
                                i -> (sv.svec[i] - c.cvec[i])
                                     * (sv.svec[i] - c.cvec[i])),
                                (x, y) -> x + y), 6), c.code) AS rn
    FROM pq_subv sv JOIN pq_cb c USING (sub_id)
  ) WHERE rn = 1
)""",
    """pq_lut AS (
  SELECT c.sub_id, c.code,
         round(list_reduce(list_transform(generate_series(1, 8),
               i -> (q.qsub[i] - c.cvec[i]) * (q.qsub[i] - c.cvec[i])),
               (x, y) -> x + y), 6) AS qd
  FROM pq_cb c
  JOIN (SELECT sub_id, svec AS qsub FROM pq_subv WHERE vec_id = 10) q
    USING (sub_id)
)""",
    body="""SELECT vec_id,
       round(list_reduce(list(l.qd ORDER BY b.sub_id), (x, y) -> x + y), 6)
         AS adc_dist
FROM pq_best b JOIN pq_lut l ON b.sub_id = l.sub_id AND b.code = l.code
WHERE b.vec_id <> 10
GROUP BY vec_id
ORDER BY adc_dist, vec_id LIMIT 10""",
)

QUERIES["dp_ann_pq_topk"] = dp_ann_pq_topk
ORACLES["dp_ann_pq_topk"] = DP_PQ_SQL


# --- IVF-PQ (IVFADC) ANN (round 7) -----------------------------------------

def dp_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC two-stage search (datapipe/similarity.py ivfpq_* — Jégou
    et al. 2011 §IV, the IVF×PQ composition of VERDICT r6 #2): assign
    to 16 coarse lists, PQ-encode the residuals (8 subspaces × 16
    codes), probe the 4 best lists for query vector 10, ADC with the
    per-list query-residual lookup table INSIDE those lists only, then
    exact L2 rerank of the top-200 shortlist. The scan is
    nprobe/n_lists of the code table (partition-pruned when persisted
    by list_id) instead of the full corpus."""
    return similarity.ivfpq_topk(
        model.embedding_corpus(spark, sf_dir),
        probe_vec_id=10, k=10, n_lists=16, nprobe=4, rerank=200,
    )


# assignment → residual → codebook → encode CTEs shared by the single-
# probe (DP_IVFPQ_SQL) and batch-join (DP_IVFPQ_KNN_SQL) oracles
_IPQ_BASE = (
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embedding_corpus)""",
    """ipq_c AS (SELECT vec_id AS list_id, ve AS cv FROM v WHERE vec_id < 16)""",
    f"""ipq_assign AS (
  SELECT vec_id, ve, list_id, cv FROM (
    SELECT v.vec_id, v.ve, c.list_id, c.cv,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.ve', b='c.cv')} DESC, c.list_id ASC) AS rn
    FROM v, ipq_c c
  ) WHERE rn = 1
)""",
    """ipq_res AS (
  SELECT vec_id, list_id,
         list_transform(generate_series(1, 64), i -> ve[i] - cv[i]) AS rv
  FROM ipq_assign
)""",
    """ipq_cb AS (
  SELECT s AS sub_id, CAST(vec_id - 16 AS INTEGER) AS code,
         list_slice(rv, s * 8 + 1, s * 8 + 8) AS cvec
  FROM ipq_res, unnest(generate_series(0, 7)) AS t(s)
  WHERE vec_id >= 16 AND vec_id < 32
)""",
    """ipq_subv AS (
  SELECT vec_id, list_id, s AS sub_id, list_slice(rv, s * 8 + 1, s * 8 + 8) AS svec
  FROM ipq_res, unnest(generate_series(0, 7)) AS t(s)
)""",
    """ipq_best AS (
  SELECT vec_id, list_id, sub_id, code FROM (
    SELECT sv.vec_id, sv.list_id, sv.sub_id, c.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub_id
                              ORDER BY round(list_reduce(list_transform(
                                generate_series(1, 8),
                                i -> (sv.svec[i] - c.cvec[i])
                                     * (sv.svec[i] - c.cvec[i])),
                                (x, y) -> x + y), 6), c.code) AS rn
    FROM ipq_subv sv JOIN ipq_cb c USING (sub_id)
  ) WHERE rn = 1
)""",
)

DP_IVFPQ_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    *_IPQ_BASE,
    """ipq_q AS (SELECT ve AS qv FROM v WHERE vec_id = 10)""",
    f"""ipq_probes AS (
  SELECT list_id, cv FROM ipq_c, ipq_q
  ORDER BY {_COS.format(a='cv', b='qv')} DESC, list_id ASC LIMIT 4
)""",
    """ipq_qsub AS (
  SELECT list_id, s AS sub_id,
         list_slice(list_transform(generate_series(1, 64), i -> qv[i] - cv[i]),
                    s * 8 + 1, s * 8 + 8) AS qsv
  FROM ipq_probes, ipq_q, unnest(generate_series(0, 7)) AS t(s)
)""",
    """ipq_lut AS (
  SELECT qs.list_id, qs.sub_id, c.code,
         round(list_reduce(list_transform(generate_series(1, 8),
               i -> (qs.qsv[i] - c.cvec[i]) * (qs.qsv[i] - c.cvec[i])),
               (x, y) -> x + y), 6) AS qd
  FROM ipq_qsub qs JOIN ipq_cb c USING (sub_id)
)""",
    """ipq_adc AS (
  SELECT b.vec_id,
         round(list_reduce(list(l.qd ORDER BY b.sub_id), (x, y) -> x + y), 6)
           AS adc_dist
  FROM ipq_best b
  JOIN ipq_lut l
    ON b.list_id = l.list_id AND b.sub_id = l.sub_id AND b.code = l.code
  WHERE b.vec_id <> 10
  GROUP BY b.vec_id
)""",
    """ipq_short AS (
  SELECT vec_id FROM ipq_adc ORDER BY adc_dist, vec_id LIMIT 200
)""",
    body="""SELECT v.vec_id,
       round(list_reduce(list_transform(generate_series(1, 64),
             i -> (v.ve[i] - q.qv[i]) * (v.ve[i] - q.qv[i])),
             (x, y) -> x + y), 6) AS l2_dist
FROM v JOIN ipq_short USING (vec_id), ipq_q q
ORDER BY l2_dist, vec_id LIMIT 10""",
)

QUERIES["dp_ann_ivfpq_topk"] = dp_ann_ivfpq_topk
ORACLES["dp_ann_ivfpq_topk"] = DP_IVFPQ_SQL


def dp_ann_ivfpq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVFADC kNN join (datapipe/similarity.py ivfpq_knn_join):
    three corpus queries probe their 4 best residual-coded lists, ADC
    with per-(query, list) lookup tables, exact top-100 rerank, top-5
    per query — the batched-retrieval shape a curation pipeline runs
    (shuffle keyed (query_id, vec_id), never queries × corpus)."""
    emb = model.embedding_corpus(spark, sf_dir)
    qs = emb.filter(F.col("vec_id").isin(10, 20, 30)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.ivfpq_knn_join(
        emb, qs, k=5, nprobe=4, rerank=100
    ).orderBy("query_id", "rank")


DP_IVFPQ_KNN_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    *_IPQ_BASE,
    """kj_q AS (SELECT vec_id AS query_id, ve AS qv FROM v
  WHERE vec_id IN (10, 20, 30))""",
    f"""kj_probes AS (
  SELECT query_id, list_id, cv, qv FROM (
    SELECT q.query_id, c.list_id, c.cv, q.qv,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='c.cv', b='q.qv')} DESC, c.list_id ASC) AS pr
    FROM ipq_c c, kj_q q
  ) WHERE pr <= 4
)""",
    """kj_qsub AS (
  SELECT query_id, list_id, s AS sub_id,
         list_slice(list_transform(generate_series(1, 64), i -> qv[i] - cv[i]),
                    s * 8 + 1, s * 8 + 8) AS qsv
  FROM kj_probes, unnest(generate_series(0, 7)) AS t(s)
)""",
    """kj_lut AS (
  SELECT qs.query_id, qs.list_id, qs.sub_id, c.code,
         round(list_reduce(list_transform(generate_series(1, 8),
               i -> (qs.qsv[i] - c.cvec[i]) * (qs.qsv[i] - c.cvec[i])),
               (x, y) -> x + y), 6) AS qd
  FROM kj_qsub qs JOIN ipq_cb c USING (sub_id)
)""",
    """kj_adc AS (
  SELECT l.query_id, b.vec_id,
         round(list_reduce(list(l.qd ORDER BY b.sub_id), (x, y) -> x + y), 6)
           AS adc_dist
  FROM ipq_best b
  JOIN kj_lut l
    ON b.list_id = l.list_id AND b.sub_id = l.sub_id AND b.code = l.code
  GROUP BY l.query_id, b.vec_id
)""",
    """kj_short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, vec_id) AS r
    FROM kj_adc
  ) WHERE r <= 100
)""",
    """kj_rr AS (
  SELECT s.query_id, v.vec_id,
         round(list_reduce(list_transform(generate_series(1, 64),
               i -> (v.ve[i] - q.qv[i]) * (v.ve[i] - q.qv[i])),
               (x, y) -> x + y), 6) AS l2_dist
  FROM kj_short s
  JOIN v USING (vec_id)
  JOIN kj_q q ON s.query_id = q.query_id
)""",
    body="""SELECT query_id, rank, vec_id, l2_dist FROM (
  SELECT query_id, vec_id, l2_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY l2_dist, vec_id) AS rank
  FROM kj_rr
) WHERE rank <= 5
ORDER BY query_id, rank""",
)

QUERIES["dp_ann_ivfpq_knn_join"] = dp_ann_ivfpq_knn_join
ORACLES["dp_ann_ivfpq_knn_join"] = DP_IVFPQ_KNN_SQL


# --- DSIR importance weights (round 6) -------------------------------------

def dp_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-n-gram importance weights of every document against the
    src0 target domain (datapipe/text.py dsir_weights — the published
    importance-resampling recipe for domain-matched pretraining data).
    Top-50 most target-like docs, deterministic cut."""
    docs = model.load(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    return (
        text.dsir_weights(docs, target)
        .orderBy(F.desc("log_weight"), F.asc("doc_id"))
        .limit(50)
    )


_DSIR_GRAMS = r"""
SELECT doc_id, g.pos, g.gram FROM (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), LATERAL (
  SELECT i - 1 AS pos, t[i] AS gram
  FROM unnest(generate_series(1, len(t))) AS s(i)
  UNION ALL
  SELECT len(t) + i - 1 AS pos, concat(t[i], ' ', t[i+1]) AS gram
  FROM unnest(generate_series(1, greatest(len(t) - 1, 0))) AS s(i)
) g
"""

DP_DSIR_SQL = rf"""
WITH grams AS (
  SELECT doc_id, pos,
         CAST(concat('0x', substring(md5(gram), 1, 15)) AS BIGINT) % 10000 AS b
  FROM ({_DSIR_GRAMS})
),
tgt_grams AS (
  SELECT g.* FROM grams g JOIN documents d USING (doc_id)
  WHERE d.source = 'src0'
),
raw_c AS (SELECT b, count(*) AS raw_cnt FROM grams GROUP BY b),
tgt_c AS (SELECT b, count(*) AS tgt_cnt FROM tgt_grams GROUP BY b),
ratio AS (
  SELECT COALESCE(r.b, t.b) AS b,
         round(ln((COALESCE(t.tgt_cnt, 0) + 1)
                  / ((SELECT SUM(tgt_cnt) FROM tgt_c) + 10000.0))
               - ln((COALESCE(r.raw_cnt, 0) + 1)
                    / ((SELECT SUM(raw_cnt) FROM raw_c) + 10000.0)), 6) AS lr
  FROM raw_c r FULL OUTER JOIN tgt_c t ON r.b = t.b
),
scored AS (
  SELECT g.doc_id, count(*) AS n_grams,
         round(list_reduce(list(x.lr ORDER BY g.pos), (a, c) -> a + c), 6)
           AS log_weight
  FROM grams g JOIN ratio x USING (b)
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, log_weight FROM scored
ORDER BY log_weight DESC, doc_id LIMIT 50
"""

QUERIES["dp_dsir_weights"] = dp_dsir_weights
ORACLES["dp_dsir_weights"] = DP_DSIR_SQL


# --- per-source dedup-rate report (round 6) --------------------------------

def dp_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rates over the dedup corpus
    (datapipe/dedup.py dedup_rate_report) — the before/after curation
    health metric."""
    corpus = model.dedup_corpus(spark, sf_dir).withColumn(
        "source", F.concat(F.lit("lane_"), (F.col("doc_id") % 4).cast("string"))
    )
    return dedup.dedup_rate_report(corpus)


DP_DEDUP_RATE_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    """ddr AS (
  SELECT concat('lane_', CAST(doc_id % 4 AS VARCHAR)) AS source,
         md5(text) AS content_hash, count(*) AS copies
  FROM dedup_corpus GROUP BY 1, 2
)""",
    body="""SELECT source, CAST(SUM(copies) AS BIGINT) AS n_docs,
       count(*) AS n_distinct,
       CAST(SUM(copies) - count(*) AS BIGINT) AS n_exact_dups,
       round(CAST(SUM(copies) - count(*) AS DOUBLE) / SUM(copies), 6)
         AS dup_rate
FROM ddr GROUP BY source ORDER BY source""",
)

QUERIES["dp_dedup_rate_report"] = dp_dedup_rate_report
ORACLES["dp_dedup_rate_report"] = DP_DEDUP_RATE_SQL


# --- substring-level duplicate spans (round 7) ------------------------------

def dp_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated substrings (Lee et al. 2021
    ExactSubstr family re-expressed as k-gram seeds + per-doc interval
    merge — datapipe/dedup.py dup_spans). Portable md5 gram family so
    the oracle replays seed sharing, the semi-join, and the island
    merge value-for-value; the xxhash64 fast family shares the plan
    (equality pinned in test_dup_spans_fast_matches_portable)."""
    return dedup.dup_spans(model.dedup_corpus(spark, sf_dir), portable=True)


_DUP_SEED_CTES = (
    r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM dedup_corpus
)""",
    """seeds0 AS (
  SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS pos,
         CAST(concat('0x', substring(md5(concat_ws(' ',
           t[pos], t[pos+1], t[pos+2], t[pos+3],
           t[pos+4], t[pos+5], t[pos+6], t[pos+7])), 1, 15)) AS BIGINT) AS gram
  FROM toks
)""",
    """shared AS (
  SELECT gram FROM seeds0 GROUP BY gram HAVING min(doc_id) <> max(doc_id)
)""",
    """seeds AS (
  SELECT s.doc_id, s.pos FROM seeds0 s JOIN shared USING (gram)
)""",
    """flagged AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS flag
  FROM seeds
)""",
    """islands AS (
  SELECT doc_id, pos,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)""",
    """spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
         count(*) AS n_seeds
  FROM islands GROUP BY doc_id, island
)""",
)

DP_DUP_SPANS_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    *_DUP_SEED_CTES,
    body="""SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens, n_seeds
FROM spans WHERE span_end - span_start + 1 >= 15
ORDER BY doc_id, span_start""",
)

QUERIES["dp_dup_spans"] = dp_dup_spans
ORACLES["dp_dup_spans"] = DP_DUP_SPANS_SQL


def dp_dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text accounting over dp_dup_spans —
    the dup_frac frame a cleaning pass thresholds on."""
    return dedup.dup_span_report(model.dedup_corpus(spark, sf_dir), portable=True)


DP_DUP_SPAN_REPORT_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    *_DUP_SEED_CTES,
    """qualified AS (
  SELECT doc_id, span_end - span_start + 1 AS span_tokens FROM spans
  WHERE span_end - span_start + 1 >= 15
)""",
    """per_doc AS (
  SELECT doc_id, count(*) AS n_spans, SUM(span_tokens) AS dup_tokens
  FROM qualified GROUP BY doc_id
)""",
    body="""SELECT t.doc_id, len(t.t) AS total_tokens,
       COALESCE(p.n_spans, 0) AS n_spans,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(t.t) AS dup_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id""",
)

QUERIES["dp_dup_span_report"] = dp_dup_span_report
ORACLES["dp_dup_span_report"] = DP_DUP_SPAN_REPORT_SQL


def dp_dup_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup cleaning transform: cut every qualifying
    duplicated span from every doc except its canonical owner (min
    doc_id over the span's seed grams' sharers) — exactly one copy of
    duplicated text survives corpus-wide. The oracle replays the full
    lattice: seeds → owner law → islands → cut ranges → token-level
    text reconstruction (value-hash covers the cleaned STRINGS)."""
    return dedup.dup_span_clean(model.dedup_corpus(spark, sf_dir), portable=True)


DP_DUP_SPAN_CLEAN_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM dedup_corpus
)""",
    """seeds0 AS (
  SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS pos,
         CAST(concat('0x', substring(md5(concat_ws(' ',
           t[pos], t[pos+1], t[pos+2], t[pos+3],
           t[pos+4], t[pos+5], t[pos+6], t[pos+7])), 1, 15)) AS BIGINT) AS gram
  FROM toks
)""",
    """shared_lo AS (
  SELECT gram, min(doc_id) AS glo FROM seeds0
  GROUP BY gram HAVING min(doc_id) <> max(doc_id)
)""",
    """seeds AS (
  SELECT s.doc_id, s.pos, g.glo FROM seeds0 s JOIN shared_lo g USING (gram)
)""",
    """flagged AS (
  SELECT doc_id, pos, glo,
         CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS flag
  FROM seeds
)""",
    """islands AS (
  SELECT doc_id, pos, glo,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)""",
    """spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
         min(glo) AS span_lo
  FROM islands GROUP BY doc_id, island
)""",
    """cuts AS (
  SELECT doc_id, span_start, span_end FROM spans
  WHERE span_end - span_start + 1 >= 15 AND span_lo < doc_id
)""",
    """pos_tab AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM toks
)""",
    """kept AS (
  SELECT p.doc_id, p.pos, p.t[p.pos] AS tok FROM pos_tab p
  WHERE NOT EXISTS (SELECT 1 FROM cuts c
    WHERE c.doc_id = p.doc_id AND p.pos BETWEEN c.span_start AND c.span_end)
)""",
    body="""SELECT t.doc_id, len(t.t) AS total_tokens,
       len(t.t) - CAST(COALESCE(k.cnt, 0) AS BIGINT) AS removed_tokens,
       COALESCE(k.txt, '') AS clean_text
FROM toks t LEFT JOIN (
  SELECT doc_id, count(*) AS cnt, string_agg(tok, ' ' ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
) k USING (doc_id)
ORDER BY t.doc_id""",
)

QUERIES["dp_dup_span_clean"] = dp_dup_span_clean
ORACLES["dp_dup_span_clean"] = DP_DUP_SPAN_CLEAN_SQL


# --- multimodal exact dedup (round 7) --------------------------------------

def dp_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY media column: md5-groupBy of the
    payload bytes (image PPM files, video PPM streams, audio PCM),
    with planted byte-identical copies (+3M ids for doc_id % 5 == 0).
    The DuckDB oracle reconstructs the same payload byte stream from
    the synthesis law (ASCII corpus → chars == bytes) and must land on
    the same md5 hex, canonical ids, and copy counts."""
    media = multimodal.synthesize_media(model.load(spark, sf_dir, "documents"))
    copies = media.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 3_000_000
    )
    corpus = media.unionByName(copies)
    return dedup.exact_dedup_groups(corpus, text_col="content")


DP_MEDIA_EXACT_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id, text,
         doc_id % 4 + 1 AS w, doc_id % 5 + 1 AS h,
         (doc_id % 4 + 1) * (doc_id % 5 + 1) * 3 AS npx
  FROM documents
),
m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN
      'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
        || chr(10) || '255' || chr(10)
        || substring(text || repeat('=', 60), 1, npx)
    WHEN doc_id % 3 = 1 THEN text
    ELSE array_to_string(list_transform(
        generate_series(0, CAST(doc_id % 30 AS BIGINT)),
        f -> 'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
             || chr(10) || '255' || chr(10)
             || substring(text || repeat('=', 120), CAST(f + 1 AS INTEGER), npx)), '')
    END AS payload
  FROM base
),
media_corpus AS (
  SELECT doc_id, payload FROM m
  UNION ALL
  SELECT doc_id + 3000000, payload FROM m WHERE doc_id % 5 = 0
)
SELECT content_hash, canonical_doc_id, n_copies FROM (
  SELECT md5(payload) AS content_hash, min(doc_id) AS canonical_doc_id,
         count(*) AS n_copies
  FROM media_corpus GROUP BY 1
) WHERE n_copies >= 2 ORDER BY canonical_doc_id
"""

QUERIES["dp_media_exact_dedup"] = dp_media_exact_dedup
ORACLES["dp_media_exact_dedup"] = DP_MEDIA_EXACT_DEDUP_SQL


# --- bigram-LM fluency scoring (round 7) -----------------------------------

def dp_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (datapipe/text.py lm_perplexity):
    add-1 bigram LM trained on the corpus's 'en' slice scores every
    doc; top-50 highest mean NLL = the least-domain-like drop
    candidates. The oracle replays counts, vocab, smoothing, and the
    log scoring end-to-end."""
    return text.lm_perplexity(model.load(spark, sf_dir, "documents")).limit(50)


DP_LM_PERPLEXITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
db0 AS (
  SELECT doc_id, lang, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i, t
  FROM toks
),
db AS (
  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2 FROM db0
),
train AS (SELECT w1, w2 FROM db WHERE lang = 'en'),
bc AS (SELECT w1, w2, count(*) AS c2 FROM train GROUP BY 1, 2),
uc AS (SELECT w1, count(*) AS c1 FROM train GROUP BY 1),
v AS (
  SELECT count(DISTINCT w) AS vocab FROM (
    SELECT w1 AS w FROM train UNION ALL SELECT w2 FROM train
  )
),
scored AS (
  SELECT d.doc_id,
         -ln((COALESCE(bc.c2, 0) + 1.0) / (COALESCE(uc.c1, 0) + v.vocab)) AS nll
  FROM db d
  LEFT JOIN bc ON d.w1 = bc.w1 AND d.w2 = bc.w2
  LEFT JOIN uc ON d.w1 = uc.w1
  CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
FROM scored GROUP BY doc_id
ORDER BY round(avg(nll), 6) DESC, doc_id LIMIT 50
"""

QUERIES["dp_lm_perplexity"] = dp_lm_perplexity
ORACLES["dp_lm_perplexity"] = DP_LM_PERPLEXITY_SQL


# --- Naive-Bayes language classifier (round 7) -----------------------------

def dp_nb_lang_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained multinomial-NB language model (datapipe/text.py
    nb_lang_model) — the count-based analog of the fastText lang-id
    classifier a curation pipeline retrains on its own corpus. The
    model artifact itself is the query result: per (lang, token)
    counts + smoothed log-probability."""
    return text.nb_lang_model(model.load(spark, sf_dir, "documents"))


_NB_TT = r"""
tt AS (
  SELECT doc_id, lang, g.pos, g.token FROM (
    SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents
  ), LATERAL (
    SELECT i - 1 AS pos, t[i] AS token
    FROM unnest(generate_series(1, len(t))) AS s(i)
  ) g
),
counts AS (SELECT lang, token, count(*) AS token_cnt FROM tt GROUP BY 1, 2),
totals AS (SELECT lang, count(*) AS n_lang FROM tt GROUP BY 1),
v AS (SELECT count(DISTINCT token) AS vocab FROM tt)
"""

DP_NB_MODEL_SQL = rf"""
WITH {_NB_TT}
SELECT c.lang, c.token, c.token_cnt,
       round(ln((c.token_cnt + 1) / CAST(t.n_lang + v.vocab AS DOUBLE)), 6)
         AS logp
FROM counts c JOIN totals t USING (lang) CROSS JOIN v
ORDER BY lang, token
"""

QUERIES["dp_nb_lang_model"] = dp_nb_lang_model
ORACLES["dp_nb_lang_model"] = DP_NB_MODEL_SQL


def dp_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NB lang-id classifier scored back over
    its own training corpus (datapipe/text.py nb_lang_scores): how
    separable the language slices actually are — the acceptance check
    a pipeline runs before trusting the classifier to route documents."""
    scores = text.nb_lang_scores(model.load(spark, sf_dir, "documents"))
    return (
        scores.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "pred_lang")
    )


DP_NB_CONFUSION_SQL = rf"""
WITH {_NB_TT},
model AS (
  SELECT c.lang AS cand, c.token,
         round(ln((c.token_cnt + 1) / CAST(t.n_lang + v.vocab AS DOUBLE)), 6)
           AS logp
  FROM counts c JOIN totals t USING (lang) CROSS JOIN v
),
classes AS (
  SELECT d.lang AS cand,
         round(ln(d.d_lang / CAST(nd.n_docs AS DOUBLE)), 6) AS prior,
         round(ln(1.0 / (t.n_lang + v.vocab)), 6) AS floor_lp
  FROM (SELECT lang, count(*) AS d_lang FROM documents GROUP BY 1) d
  JOIN totals t USING (lang)
  CROSS JOIN (SELECT count(*) AS n_docs FROM documents) nd
  CROSS JOIN v
),
tc AS (
  SELECT doc_id, lang, token, count(*) AS cnt
  FROM tt GROUP BY doc_id, lang, token
),
terms AS (
  SELECT tc.doc_id, tc.lang, c.cand, c.prior, tc.token,
         tc.cnt * COALESCE(m.logp, c.floor_lp) AS term
  FROM tc CROSS JOIN classes c
  LEFT JOIN model m ON m.cand = c.cand AND m.token = tc.token
),
scored AS (
  SELECT doc_id, lang, cand,
         round(any_value(prior)
               + list_reduce(list(term ORDER BY token), (a, b) -> a + b), 6)
           AS score
  FROM terms GROUP BY doc_id, lang, cand
),
best AS (
  SELECT doc_id, lang, cand AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand) AS rn
  FROM scored
)
SELECT lang, pred_lang, count(*) AS cnt
FROM best WHERE rn = 1
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""

QUERIES["dp_nb_lang_confusion"] = dp_nb_lang_confusion
ORACLES["dp_nb_lang_confusion"] = DP_NB_CONFUSION_SQL


# --- span-level benchmark decontamination (round 7) ------------------------

def dp_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact leaked token ranges (datapipe/dedup.py
    contamination_spans): eval set = first 10 tokens of every
    doc_id % 97 == 0 document, corpus side = everything else; a
    training position seeds when its 8-gram occurs in the benchmark,
    islands merge and qualify at the 10-token leak unit. The corpus'
    injected copies of bench docs are the flagged spans."""
    corpus = model.dedup_corpus(spark, sf_dir)
    bench = corpus.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id",
        F.array_join(F.slice(text.tokens(F.col("text")), 1, 10), " ").alias(
            "text"
        ),
    )
    return dedup.contamination_spans(
        corpus.filter(F.col("doc_id") % 97 != 0), bench, portable=True
    ).orderBy("doc_id", "span_start")


DP_DECONTAM_SPANS_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    r"""toksc AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM dedup_corpus WHERE doc_id % 97 <> 0
)""",
    r"""btoks AS (
  SELECT doc_id, list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10) AS t
  FROM dedup_corpus WHERE doc_id % 97 = 0
)""",
    """cseeds AS (
  SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS pos,
         CAST(concat('0x', substring(md5(concat_ws(' ',
           t[pos], t[pos+1], t[pos+2], t[pos+3],
           t[pos+4], t[pos+5], t[pos+6], t[pos+7])), 1, 15)) AS BIGINT) AS gram
  FROM toksc
)""",
    """bgrams AS (
  SELECT DISTINCT CAST(concat('0x', substring(md5(concat_ws(' ',
           t[pos], t[pos+1], t[pos+2], t[pos+3],
           t[pos+4], t[pos+5], t[pos+6], t[pos+7])), 1, 15)) AS BIGINT) AS gram
  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS pos
        FROM btoks)
)""",
    """seeds AS (
  SELECT s.doc_id, s.pos FROM cseeds s JOIN bgrams USING (gram)
)""",
    """flagged AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS flag
  FROM seeds
)""",
    """islands AS (
  SELECT doc_id, pos,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)""",
    """spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
         count(*) AS n_seeds
  FROM islands GROUP BY doc_id, island
)""",
    body="""SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens, n_seeds
FROM spans WHERE span_end - span_start + 1 >= 10
ORDER BY doc_id, span_start""",
)

QUERIES["dp_decontaminate_spans"] = dp_decontaminate_spans
ORACLES["dp_decontaminate_spans"] = DP_DECONTAM_SPANS_SQL


# --- embedding-table quality profile (round 7) -----------------------------

def dp_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding corpus (datapipe/
    similarity.py embedding_dim_stats) — quantized exact-integer
    moments, one posexplode pass onto 64 keys."""
    return similarity.embedding_dim_stats(model.embedding_corpus(spark, sf_dir))


DP_EMB_DIM_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    """comp AS (
  SELECT s.i - 1 AS pos,
         CAST(round(CAST(embedding[s.i] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embedding_corpus, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) s
  WHERE len(list_filter(embedding, x -> isnan(x))) = 0
)""",
    """dim_agg AS (
  SELECT pos, count(*) AS n, SUM(q) AS sum_q, SUM(q * q) AS sumsq_q,
         MIN(q) AS min_q, MAX(q) AS max_q
  FROM comp GROUP BY pos
)""",
    body="""SELECT pos, n,
  round(CAST(sum_q AS DOUBLE) / (n * 1000000.0), 6) AS mean,
  round(greatest(CAST(sumsq_q AS DOUBLE) / (n * 1000000000000.0)
        - (CAST(sum_q AS DOUBLE) / (n * 1000000.0))
          * (CAST(sum_q AS DOUBLE) / (n * 1000000.0)), 0.0), 6) AS variance,
  round(sqrt(greatest(CAST(sumsq_q AS DOUBLE) / (n * 1000000000000.0)
        - (CAST(sum_q AS DOUBLE) / (n * 1000000.0))
          * (CAST(sum_q AS DOUBLE) / (n * 1000000.0)), 0.0)), 6) AS std,
  round(min_q / 1000000.0, 6) AS min_val,
  round(max_q / 1000000.0, 6) AS max_val
FROM dim_agg ORDER BY pos""",
)

QUERIES["dp_embedding_dim_stats"] = dp_embedding_dim_stats
ORACLES["dp_embedding_dim_stats"] = DP_EMB_DIM_SQL


def dp_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm histogram + degenerate-vector lanes
    (similarity.embedding_norm_profile): exact per-row integer norm²
    folds bucketed by integer division — the collapsed-embedding /
    dead-encoder alert frame."""
    return similarity.embedding_norm_profile(model.embedding_corpus(spark, sf_dir))


DP_EMB_NORMS_SQL = model.with_ctes(
    model.EMBEDDING_CORPUS_CTE,
    """perv AS (
  SELECT CASE
    WHEN len(list_filter(embedding, x -> isnan(x))) > 0 THEN NULL
    ELSE list_reduce(list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
           * CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
         (a, b) -> a + b) END AS nq,
    len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan
  FROM embedding_corpus
)""",
    """kinds AS (
  SELECT CASE WHEN has_nan THEN 'NAN'
              WHEN nq = 0 THEN 'ZERO' ELSE 'NORM' END AS kind,
         CASE WHEN NOT has_nan AND nq <> 0
              THEN nq // 250000000000 END AS bucket
  FROM perv
)""",
    body="""SELECT kind, bucket, round(bucket * 0.25, 6) AS norm_sq_lo,
       count(*) AS n_vecs
FROM kinds GROUP BY kind, bucket ORDER BY kind, bucket""",
)

QUERIES["dp_embedding_norms"] = dp_embedding_norms
ORACLES["dp_embedding_norms"] = DP_EMB_NORMS_SQL


# --- CDC chunking + tf-idf (round 7) ---------------------------------------

_CDC_CHUNKS_CTE = [
    r"""cdc_tok AS (
  SELECT doc_id, t[s.pos] AS tok, s.pos
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(COALESCE(text, '')), '\s+') AS t
        FROM dedup_corpus),
       LATERAL (SELECT unnest(generate_series(1, len(t))) AS pos) s
)""",
    f"""cdc_idx AS (
  SELECT doc_id, tok, pos,
         COALESCE(SUM(CASE WHEN {dedup.md5_lane_sql('tok')} % 8 = 0
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS chunk_idx
  FROM cdc_tok
)""",
    """cdc_chunks AS (
  SELECT doc_id, chunk_idx,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
  FROM cdc_idx GROUP BY doc_id, chunk_idx
)""",
]


def dp_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report over the dedup corpus
    (datapipe/dedup.py cdc_dedup_report): boundaries re-synchronize
    after insertions, so the planted near-duplicates share every chunk
    but the tail one."""
    return dedup.cdc_dedup_report(model.dedup_corpus(spark, sf_dir))


DP_CDC_CHUNKS_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    *_CDC_CHUNKS_CTE,
    """cdc_shared AS (
  SELECT chunk_hash FROM (
    SELECT chunk_hash, count(*) AS n_docs
    FROM (SELECT DISTINCT chunk_hash, doc_id FROM cdc_chunks)
    GROUP BY chunk_hash
  ) WHERE n_docs >= 2
)""",
    body="""SELECT p.doc_id, p.n_chunks,
  COALESCE(s.n_shared, 0) AS n_shared_chunks,
  COALESCE(s.n_shared, 0) / p.n_chunks AS shared_frac
FROM (SELECT doc_id, count(*) AS n_chunks FROM cdc_chunks GROUP BY doc_id) p
LEFT JOIN (SELECT doc_id, count(*) AS n_shared FROM cdc_chunks
           WHERE chunk_hash IN (SELECT chunk_hash FROM cdc_shared)
           GROUP BY doc_id) s USING (doc_id)
ORDER BY p.doc_id""",
)


def dp_cdc_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shared-CDC-chunk matrix (mirror/syndication
    detection rollup, datapipe/dedup.py cdc_source_matrix)."""
    return dedup.cdc_source_matrix(model.dedup_corpus(spark, sf_dir))


DP_CDC_MATRIX_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    *_CDC_CHUNKS_CTE,
    """cdc_occ AS (
  SELECT DISTINCT c.chunk_hash, d.source
  FROM cdc_chunks c JOIN dedup_corpus d USING (doc_id)
)""",
    body="""SELECT a.source AS source_a, b.source AS source_b,
  count(*) AS n_shared_chunks
FROM cdc_occ a JOIN cdc_occ b USING (chunk_hash)
WHERE a.source <= b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b""",
)


def dp_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 tf-idf keywords with corpus-wide statistics
    (datapipe/text.py tfidf_topk); reported docs subsampled
    (doc_id % 20 == 0), statistics full-corpus."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    return text_ops.tfidf_topk(model.load(spark, sf_dir, "documents"))


DP_TFIDF_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(t) AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(COALESCE(text, '')), '\s+') AS t
        FROM documents)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0) AS score
  FROM tf t JOIN df d USING (term), n
  WHERE t.doc_id % 20 = 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
"""

QUERIES["dp_cdc_chunks"] = dp_cdc_chunks
ORACLES["dp_cdc_chunks"] = DP_CDC_CHUNKS_SQL
QUERIES["dp_cdc_source_matrix"] = dp_cdc_source_matrix
ORACLES["dp_cdc_source_matrix"] = DP_CDC_MATRIX_SQL
QUERIES["dp_tfidf_topk"] = dp_tfidf_topk
ORACLES["dp_tfidf_topk"] = DP_TFIDF_SQL


def dp_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for the standing query set
    (datapipe/text.py bm25_topk) — the lexical-ranking side of a
    RAG/dataset-search pipeline; per-term contributions quantized to
    integer ppm so the cross-engine sum is order-independent."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    return text_ops.bm25_topk(model.load(spark, sf_dir, "documents"))


def _bm25_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB replay of bm25_topk, generated from the same query set
    and constants as the Spark plan."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    def _q(s: str) -> str:
        # BM25_QUERIES is deployment-swappable — escape single quotes
        # so a quoted term can't break/inject the generated VALUES list
        # (ADVICE r8)
        return s.replace("'", "''")

    qvals = ", ".join(
        f"('{_q(qid)}', '{_q(t)}')"
        for qid, qtext in text_ops.BM25_QUERIES
        for t in sorted(set(qtext.lower().split()))
    )
    toks = r"regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\s+')"
    return rf"""
WITH qterms(query_id, term) AS (VALUES {qvals}),
tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, SUM(len({toks})) AS total_len FROM documents
),
dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(round(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * {k1 + 1.0!r}) /
             (tf.tf + {k1!r} * ({1.0 - b!r}
                + {b!r} * CAST(dl.dl AS DOUBLE) * s.n_docs / s.total_len))
           * 1000000) AS BIGINT) AS ppm
  FROM tf
  JOIN dft d USING (term)
  JOIN qterms q USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
agg AS (
  SELECT query_id, doc_id, SUM(ppm) AS score_ppm, COUNT(*) AS n_terms
  FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_ppm, n_terms,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_ppm DESC, doc_id) AS rank
  FROM agg
)
SELECT query_id, doc_id,
       CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(n_terms AS BIGINT) AS n_terms,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


DP_BM25_SQL = _bm25_sql()

QUERIES["dp_bm25_topk"] = dp_bm25_topk
ORACLES["dp_bm25_topk"] = DP_BM25_SQL


def dp_winnow_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing overlap report (datapipe/dedup.py
    winnow_fingerprints + winnow_similarity_report, Schleimer et al.
    2003): robust-winnowed k=4/w=4 fingerprints over the dedup corpus,
    pairs sharing >= 3 rare fingerprints with exact-ppm overlap."""
    corpus = model.dedup_corpus(spark, sf_dir)
    return dedup.winnow_similarity_report(corpus, portable=True)


DP_WINNOW_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM dedup_corpus
)""",
    """g AS (
  SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS pos,
         CAST(concat('0x', substring(md5(concat_ws(' ',
           t[pos], t[pos+1], t[pos+2], t[pos+3])), 1, 15)) AS BIGINT) AS gram
  FROM toks
)""",
    """sel AS (
  SELECT doc_id, pos,
         min(struct_pack(g := gram, np := -pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
  FROM g
)""",
    """fpd AS (
  SELECT DISTINCT doc_id, struct_extract(m, 'g') AS fp
  FROM sel WHERE pos >= 4
)""",
    """dft AS (
  SELECT fp FROM fpd GROUP BY fp HAVING count(*) BETWEEN 2 AND 50
)""",
    """rare AS (SELECT doc_id, fp FROM fpd JOIN dft USING (fp))""",
    """wpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 3
)""",
    """sizes AS (SELECT doc_id, count(*) AS n_fp FROM fpd GROUP BY doc_id)""",
    body="""SELECT doc_a, doc_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(sa.n_fp AS BIGINT) AS n_fp_a,
       CAST(sb.n_fp AS BIGINT) AS n_fp_b,
       CAST(n_shared * 1000000 // LEAST(sa.n_fp, sb.n_fp) AS BIGINT)
         AS overlap_ppm
FROM wpairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
ORDER BY doc_a, doc_b""",
)

QUERIES["dp_winnow_report"] = dp_winnow_report
ORACLES["dp_winnow_report"] = DP_WINNOW_SQL


def dp_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI bigram collocations (datapipe/text.py
    pmi_collocations) over the documents table — the phrase-mining
    count shape; PMI quantized to integer ppm."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    return text_ops.pmi_collocations(model.load(spark, sf_dir, "documents"))


DP_PMI_SQL = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\s+') AS t
  FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
c2 AS (SELECT w2, count(*) AS c2 FROM bg GROUP BY w2),
total AS (SELECT count(*) AS t FROM bg)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(round(ln((CAST(c12 AS DOUBLE) * t) / (CAST(c1 AS DOUBLE) * c2))
            * 1000000) AS BIGINT) AS pmi_ppm
FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN total
WHERE c12 >= 5
ORDER BY pmi_ppm DESC, w1, w2
LIMIT 50
"""

QUERIES["dp_pmi_collocations"] = dp_pmi_collocations
ORACLES["dp_pmi_collocations"] = DP_PMI_SQL


def dp_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card rollup (datapipe/text.py
    dataset_datasheet): docs/tokens/langs, exact-dup rate, integer-ppm
    quality mean, exact order-statistic p50/p90 token counts — run on
    the dedup corpus so dup_rate_ppm is non-trivial."""
    from hadoop_ozone_spark.datapipe import text as text_ops

    return text_ops.dataset_datasheet(model.dedup_corpus(spark, sf_dir))


DP_DATASHEET_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    r"""staged AS (
  SELECT source, doc_id, lang,
         CAST(len(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'))
              AS BIGINT) AS n_tokens,
         md5(COALESCE(text, '')) AS content_hash,
         len(list_filter(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
                         x -> x IN ('the', 'and', 'of'))) * 1000000 AS stop_num
  FROM dedup_corpus
)""",
    """ranked AS (
  SELECT source, lang, n_tokens, content_hash,
         stop_num // greatest(n_tokens, 1) AS quality_ppm,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tokens, doc_id) AS _rn,
         count(*) OVER (PARTITION BY source) AS _n
  FROM staged
)""",
    """per_source AS (
  SELECT source,
         count(*) AS n_docs,
         SUM(n_tokens) AS n_tokens,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT content_hash) AS n_distinct_contents,
         SUM(quality_ppm) AS _q_sum,
         min(CASE WHEN _rn = (_n + 1) // 2 THEN n_tokens END) AS p50_tokens,
         min(CASE WHEN _rn = (9 * _n + 9) // 10 THEN n_tokens END)
           AS p90_tokens
  FROM ranked GROUP BY source
)""",
    body="""SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_langs AS BIGINT) AS n_langs,
       CAST((n_docs - n_distinct_contents) * 1000000 // n_docs AS BIGINT)
         AS dup_rate_ppm,
       CAST(_q_sum // n_docs AS BIGINT) AS mean_quality_ppm,
       CAST(p50_tokens AS BIGINT) AS p50_tokens,
       CAST(p90_tokens AS BIGINT) AS p90_tokens
FROM per_source ORDER BY source""",
)

QUERIES["dp_datasheet"] = dp_datasheet
ORACLES["dp_datasheet"] = DP_DATASHEET_SQL


def dp_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL vocabulary estimate (datapipe/sketches.py): the
    256-register sketch over the exploded token stream next to the
    exact distinct count and the error in ppm — the cheap-cardinality
    dial a pipeline reads before paying for an exact vocabulary."""
    from hadoop_ozone_spark.datapipe import sketches
    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = model.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            text_ops.tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("token")
    )
    est = sketches.hll_estimate(tok, "token")
    truth = tok.agg(F.count_distinct("token").alias("true_distinct"))
    return est.crossJoin(F.broadcast(truth)).select(
        "hll_estimate",
        "n_zero_registers",
        "true_distinct",
        F.expr(
            "abs(hll_estimate - true_distinct) * 1000000 DIV true_distinct"
        ).alias("error_ppm"),
    )


def _hll_vocab_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    tok_src = (
        r"SELECT unnest(regexp_split_to_array(trim(lower(COALESCE(text, ''))),"
        r" '\s+')) AS token FROM documents"
    )
    return f"""
WITH hll AS ({sketches.HLL_SQL(tok_src, "token")}),
truth AS (
  SELECT count(DISTINCT token) AS true_distinct FROM ({tok_src})
)
SELECT hll_estimate, n_zero_registers,
       CAST(true_distinct AS BIGINT) AS true_distinct,
       CAST(abs(hll_estimate - true_distinct) * 1000000 // true_distinct
            AS BIGINT) AS error_ppm
FROM hll, truth
"""


DP_HLL_SQL = _hll_vocab_sql()

QUERIES["dp_hll_vocab"] = dp_hll_vocab
ORACLES["dp_hll_vocab"] = DP_HLL_SQL


def dp_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point estimates for the true top-10 tokens
    (datapipe/sketches.py cm_counters/cm_point_estimates): the
    one-sided frequency sketch next to exact counts, with the
    overestimate in ppm (cm >= true always — the CM error law)."""
    from hadoop_ozone_spark.datapipe import sketches
    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = model.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            text_ops.tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("token")
    )
    truth = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("token"))
        .limit(10)
    )
    est = sketches.cm_point_estimates(
        tok, "token", truth.select(F.col("token").alias("key"))
    )
    return (
        truth.join(est.withColumnRenamed("key", "token"), "token")
        .select(
            "token",
            "true_count",
            "cm_estimate",
            F.expr(
                "(cm_estimate - true_count) * 1000000 DIV true_count"
            ).alias("over_ppm"),
        )
        .orderBy(F.desc("true_count"), F.asc("token"))
    )


def _cm_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    tok_src = (
        r"SELECT unnest(regexp_split_to_array(trim(lower(COALESCE(text, ''))),"
        r" '\s+')) AS token FROM documents"
    )
    occ = "\n  UNION ALL\n  ".join(
        f"SELECT {r} AS r, {sketches.cm_lane_sql(r, 'token')} AS bucket FROM tok"
        for r in range(sketches.CM_DEPTH)
    )
    probes = "\n  UNION ALL\n  ".join(
        f"SELECT token, {r} AS r, {sketches.cm_lane_sql(r, 'token')} AS bucket"
        f" FROM truth"
        for r in range(sketches.CM_DEPTH)
    )
    return f"""
WITH tok AS ({tok_src}),
truth AS (
  SELECT token, count(*) AS true_count FROM tok GROUP BY token
  ORDER BY true_count DESC, token LIMIT 10
),
occ AS (
  {occ}
),
counters AS (SELECT r, bucket, count(*) AS cnt FROM occ GROUP BY r, bucket),
probes AS (
  {probes}
),
est AS (
  -- LEFT join + coalesce mirrors cm_point_estimates: an empty counter
  -- cell counts 0 so absent/near-absent keys estimate ~0 (ADVICE r8)
  SELECT token, min(COALESCE(cnt, 0)) AS cm_estimate
  FROM probes LEFT JOIN counters USING (r, bucket) GROUP BY token
)
SELECT t.token,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST((cm_estimate - true_count) * 1000000 // true_count AS BIGINT)
         AS over_ppm
FROM truth t JOIN est USING (token)
ORDER BY true_count DESC, token
"""


DP_CM_SQL = _cm_sql()

QUERIES["dp_cm_heavy_hitters"] = dp_cm_heavy_hitters
ORACLES["dp_cm_heavy_hitters"] = DP_CM_SQL


def dp_cm_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy hitters vs the GROUPED Count-Min sketch
    (sketches.cm_counters_grouped / cm_point_estimates_grouped —
    completing the grouped sketch family next to HLL-G and QS-G):
    each source's true top-3 tokens probed against that source's own
    d×w counter matrix, over_ppm per row (one-sided: cm >= true
    inside a group because a group's counters are bit-identical to
    the ungrouped sketch of its slice, pinned in tests). Per-key
    artifacts are <= d·w rows and SUM-merge across partitions/days."""
    from hadoop_ozone_spark.datapipe import sketches
    from hadoop_ozone_spark.datapipe import text as text_ops
    from pyspark.sql import Window

    docs = model.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("source"),
        F.explode(
            text_ops.tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("token"),
    )
    truth = (
        tok.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("true_count"), F.asc("token")
                )
            ),
        )
        .filter(F.col("_rn") <= 3)
        .drop("_rn")
    )
    est = sketches.cm_point_estimates_grouped(
        tok,
        "source",
        "token",
        truth.select(F.col("source").alias("key"), F.col("token").alias("probe")),
    )
    return (
        truth.join(
            est.withColumnRenamed("key", "source").withColumnRenamed(
                "probe", "token"
            ),
            ["source", "token"],
        )
        .select(
            "source",
            "token",
            "true_count",
            "cm_estimate",
            F.expr(
                "(cm_estimate - true_count) * 1000000 DIV true_count"
            ).alias("over_ppm"),
        )
        .orderBy("source", F.desc("true_count"), F.asc("token"))
    )


def _cm_grouped_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    tok_src = (
        r"SELECT source, unnest(regexp_split_to_array(trim(lower(COALESCE(text,"
        r" ''))), '\s+')) AS token FROM documents"
    )
    occ = "\n  UNION ALL\n  ".join(
        f"SELECT source, {r} AS r, {sketches.cm_lane_sql(r, 'token')} AS bucket"
        f" FROM tok"
        for r in range(sketches.CM_DEPTH)
    )
    probes = "\n  UNION ALL\n  ".join(
        f"SELECT source, token, {r} AS r,"
        f" {sketches.cm_lane_sql(r, 'token')} AS bucket FROM truth"
        for r in range(sketches.CM_DEPTH)
    )
    return f"""
WITH tok AS ({tok_src}),
truth AS (
  SELECT source, token, true_count FROM (
    SELECT source, token, count(*) AS true_count,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, token ASC) AS rn
    FROM tok GROUP BY source, token
  ) WHERE rn <= 3
),
occ AS (
  {occ}
),
counters AS (
  SELECT source, r, bucket, count(*) AS cnt FROM occ GROUP BY source, r, bucket
),
probes AS (
  {probes}
),
est AS (
  SELECT source, token, min(COALESCE(cnt, 0)) AS cm_estimate
  FROM probes LEFT JOIN counters USING (source, r, bucket)
  GROUP BY source, token
)
SELECT t.source, t.token,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST((cm_estimate - true_count) * 1000000 // true_count AS BIGINT)
         AS over_ppm
FROM truth t JOIN est USING (source, token)
ORDER BY t.source, true_count DESC, t.token
"""


DP_CM_GROUPED_SQL = _cm_grouped_sql()

QUERIES["dp_cm_by_source"] = dp_cm_by_source
ORACLES["dp_cm_by_source"] = DP_CM_GROUPED_SQL


def dp_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for decontamination (datapipe/
    sketches.py bloom_bits/bloom_membership): build the filter over the
    benchmark slice's content hashes (doc_id % 20 == 0), probe EVERY
    doc, and report flagged counts — zero false negatives by
    construction (every benchmark doc flags), false positives at the
    (1−e^(−kn/m))^k rate; the cheap first pass before the exact
    span-level decontaminate."""
    from hadoop_ozone_spark.datapipe import sketches

    docs = model.load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h")
    )
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    bits = sketches.bloom_bits(bench, "h")
    member = sketches.bloom_membership(bits, docs.select("doc_id", "h"), "h")
    flagged = docs.join(
        member.withColumnRenamed("key", "h").select("h", "member"), "h"
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") % 20 == 0).cast("long")).alias("n_benchmark"),
        F.sum(F.col("member").cast("long")).alias("n_flagged"),
        F.sum(
            (F.col("member") & (F.col("doc_id") % 20 != 0)).cast("long")
        ).alias("n_false_positives"),
    ).select(
        "n_docs",
        "n_benchmark",
        "n_flagged",
        "n_false_positives",
        F.expr(
            "n_false_positives * 1000000 DIV greatest(n_docs - n_benchmark, 1)"
        ).alias("fp_ppm"),
    )


def _bloom_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    k = sketches.BLOOM_K
    ins = "\n  UNION ALL\n  ".join(
        f"SELECT {sketches.bloom_lane_sql(r, 'h')} AS bit FROM bench"
        for r in range(k)
    )
    prb = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, h, {sketches.bloom_lane_sql(r, 'h')} AS bit FROM docs"
        for r in range(k)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS h FROM documents
),
bench AS (SELECT h FROM docs WHERE doc_id % 20 = 0),
bits AS (SELECT DISTINCT bit FROM (
  {ins}
)),
probes AS (
  {prb}
),
member AS (
  SELECT doc_id,
         count(*) = SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
           AS member
  FROM probes LEFT JOIN bits USING (bit)
  GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_benchmark,
       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN member AND doc_id % 20 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives,
       CAST(SUM(CASE WHEN member AND doc_id % 20 <> 0 THEN 1 ELSE 0 END)
            * 1000000
            // greatest(count(*) - SUM(CASE WHEN doc_id % 20 = 0
                                            THEN 1 ELSE 0 END), 1)
            AS BIGINT) AS fp_ppm
FROM member JOIN docs USING (doc_id)
"""


DP_BLOOM_SQL = _bloom_sql()

QUERIES["dp_bloom_decontaminate"] = dp_bloom_decontaminate
ORACLES["dp_bloom_decontaminate"] = DP_BLOOM_SQL


def dp_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc k-gram novelty over the dedup corpus (datapipe/dedup.py
    gram_novelty): injected twins with higher doc_ids score ~0 novelty
    while their canonical scores high — the ingest-order
    memorization-risk report."""
    return dedup.gram_novelty(
        model.dedup_corpus(spark, sf_dir), portable=True
    )


DP_NOVELTY_SQL = model.with_ctes(
    model.DEDUP_CORPUS_CTE,
    r"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM dedup_corpus
)""",
    """grams AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substring(md5(concat_ws(' ',
           t[pos], t[pos+1], t[pos+2], t[pos+3],
           t[pos+4], t[pos+5], t[pos+6], t[pos+7])), 1, 15)) AS BIGINT) AS gram
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, greatest(len(t) - 7, 0))) AS pos
        FROM toks)
)""",
    """owner AS (SELECT gram, min(doc_id) AS owner FROM grams GROUP BY gram)""",
    body="""SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM grams JOIN owner USING (gram)
GROUP BY doc_id ORDER BY doc_id""",
)

QUERIES["dp_gram_novelty"] = dp_gram_novelty
ORACLES["dp_gram_novelty"] = DP_NOVELTY_SQL


def ev_hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the GROUPED portable HLL
    (datapipe/sketches.py hll_estimate_grouped) next to the exact
    count — count-distinct per key without shuffling raw user ids
    (the map side collapses to ≤ 256 register rows per key)."""
    from hadoop_ozone_spark.datapipe import sketches

    ev = model.load(spark, sf_dir, "events").select(
        F.col("event_type"), F.col("user_id")
    )
    est = sketches.hll_estimate_grouped(ev, "event_type", "user_id")
    truth = ev.groupBy(F.col("event_type").alias("key")).agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    return (
        est.join(truth, "key")
        .select(
            F.col("key").alias("event_type"),
            "hll_estimate",
            "true_distinct",
            F.expr(
                "abs(hll_estimate - true_distinct) * 1000000"
                " DIV true_distinct"
            ).alias("error_ppm"),
        )
        .orderBy("event_type")
    )


def _hll_grouped_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    src = "SELECT event_type, user_id FROM events"
    return f"""
WITH hll AS ({sketches.HLL_GROUPED_SQL(src, "event_type", "user_id")}),
truth AS (
  SELECT event_type AS key, count(DISTINCT user_id) AS true_distinct
  FROM events GROUP BY event_type
)
SELECT key AS event_type, hll_estimate,
       CAST(true_distinct AS BIGINT) AS true_distinct,
       CAST(abs(hll_estimate - true_distinct) * 1000000 // true_distinct
            AS BIGINT) AS error_ppm
FROM hll JOIN truth USING (key)
ORDER BY event_type
"""


EV_HLL_GROUPED_SQL = _hll_grouped_sql()

QUERIES["ev_hll_users_by_type"] = ev_hll_users_by_type
ORACLES["ev_hll_users_by_type"] = EV_HLL_GROUPED_SQL


def dp_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation (the classic semi-supervised labeler —
    Fix & Hodges 1951 lineage): held-out vectors (vec_id % 50 == 3)
    query the labeled remainder for their 5 nearest neighbors
    (knn_join_brute — exact cosine, the oracle-checkable path; the
    IVFPQ twin dp_knn_label_ivfpq shares the vote/tie law), then
    majority vote with lowest-label tie-break. Reports prediction vs
    held-out truth per query.

    Scale note (VERDICT r8 #2): the vote join broadcasts the KNN side
    (|queries|·k rows — small by construction), never the corpus-sized
    train-label table; train streams map-side with zero shuffle."""
    emb = model.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("true_label"),
    )
    train = emb.filter(F.col("vec_id") % 50 != 3)
    knn = similarity.knn_join_brute(
        train, queries.select("query_id", "qvec"), k=5
    )
    votes = (
        F.broadcast(knn)
        .join(train.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    picked = votes.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("n_votes"),
                (-F.col("label")).alias("_neg"),
                F.col("label").alias("label"),
            )
        ).alias("m")
    )
    return (
        picked.select(
            "query_id",
            F.col("m.label").alias("predicted_label"),
            F.col("m.n_votes").alias("n_votes"),
        )
        .join(
            F.broadcast(queries.select("query_id", "true_label")), "query_id"
        )
        .select(
            "query_id",
            "predicted_label",
            "n_votes",
            "true_label",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


DP_KNN_LABEL_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS true_label
  FROM embeddings WHERE vec_id % 50 = 3
), train AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
  FROM embeddings WHERE vec_id % 50 <> 3
), scored AS (
  SELECT q.query_id, t.vec_id,
         round(list_dot_product(t.v, q.qv) /
               (sqrt(list_dot_product(t.v, t.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM train t, q
), ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
), votes AS (
  SELECT r.query_id, t.label, count(*) AS n_votes
  FROM ranked r JOIN train t USING (vec_id)
  WHERE r.rank <= 5
  GROUP BY r.query_id, t.label
), picked AS (
  SELECT query_id,
         max(struct_pack(n := n_votes, neg := -label, lbl := label)) AS m
  FROM votes GROUP BY query_id
)
SELECT p.query_id,
       struct_extract(m, 'lbl') AS predicted_label,
       CAST(struct_extract(m, 'n') AS BIGINT) AS n_votes,
       q.true_label,
       struct_extract(m, 'lbl') = q.true_label AS correct
FROM picked p JOIN q USING (query_id)
ORDER BY p.query_id
"""

QUERIES["dp_knn_label"] = dp_knn_label
ORACLES["dp_knn_label"] = DP_KNN_LABEL_SQL


def dp_knn_label_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation on the IVFADC scale path (VERDICT r8 #3):
    the same %50 holdout and majority-vote/lowest-label-tie law as
    dp_knn_label, but neighbors come from similarity.ivfpq_knn_join —
    residual-coded inverted lists built over the TRAIN slice only
    (centroid seeds vec_id < 16 and codebook seeds [16, 32) from the
    full table — reference points may be anywhere; the index never
    encodes a held-out vector), nprobe=4 of 16 lists, exact top-100
    L2 rerank. The vote join broadcasts the knn side, exactly the
    dp_knn_label discipline. Agreement with the brute path on the
    separable-cluster fixture is pinned in tests/test_datapipe.py."""
    emb = model.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("true_label"),
    )
    train = emb.filter(F.col("vec_id") % 50 != 3)
    # the train-slice artifacts are plan-stable across repeated calls —
    # register them (own tag: the slice differs from the full-table
    # ivfpq_index build) so steady bench runs and repeated labelings
    # reuse one build instead of re-encoding the corpus. keep_ckpt,
    # not keep (optimization r13, guide §5): the knn plan hangs ~17
    # AQE broadcast-future jobs off these frames, and with the full
    # encode ladder retained in the plan each job re-optimized the
    # tree (measured 11.5s inter-job driver gaps vs 5.9s executor
    # time steady-state at sf0.1) — checkpoint leaves cut the per-job
    # re-optimization to the small downstream tree
    from hadoop_ozone_spark import scratch

    scratch.fresh("ivfpq_label_index")
    c = scratch.keep_ckpt("ivfpq_label_index", similarity.ivf_centroids(emb, 16))
    cb = scratch.keep_ckpt(
        "ivfpq_label_index", similarity.ivfpq_codebooks(emb, c, seed_start=16)
    )
    idx = scratch.keep_ckpt(
        "ivfpq_label_index",
        similarity.ivfpq_index(train, centroids=c, codebooks=cb),
    )
    knn = similarity.ivfpq_knn_join(
        train,
        queries.select("query_id", "qvec"),
        k=5,
        nprobe=4,
        rerank=100,
        centroids=c,
        codebooks=cb,
        index=idx,
    ).select("query_id", "vec_id")
    votes = (
        F.broadcast(knn)
        .join(train.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    picked = votes.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("n_votes"),
                (-F.col("label")).alias("_neg"),
                F.col("label").alias("label"),
            )
        ).alias("m")
    )
    return (
        picked.select(
            "query_id",
            F.col("m.label").alias("predicted_label"),
            F.col("m.n_votes").alias("n_votes"),
        )
        .join(
            F.broadcast(queries.select("query_id", "true_label")), "query_id"
        )
        .select(
            "query_id",
            "predicted_label",
            "n_votes",
            "true_label",
            (F.col("predicted_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


DP_KNN_LABEL_IVFPQ_SQL = f"""
WITH allv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve, label FROM embeddings
),
kl_q AS (
  SELECT vec_id AS query_id, ve AS qv, label AS true_label
  FROM allv WHERE vec_id % 50 = 3
),
kl_t AS (SELECT vec_id, ve, label FROM allv WHERE vec_id % 50 <> 3),
kl_c AS (SELECT vec_id AS list_id, ve AS cv FROM allv WHERE vec_id < 16),
kl_assign AS (
  SELECT vec_id, ve, list_id, cv FROM (
    SELECT t.vec_id, t.ve, c.list_id, c.cv,
           row_number() OVER (PARTITION BY t.vec_id
             ORDER BY {_COS.format(a='t.ve', b='c.cv')} DESC, c.list_id ASC)
             AS rn
    FROM kl_t t, kl_c c
  ) WHERE rn = 1
),
kl_res AS (
  SELECT vec_id, list_id,
         list_transform(generate_series(1, 64), i -> ve[i] - cv[i]) AS rv
  FROM kl_assign
),
kl_cb AS (
  SELECT s AS sub_id, CAST(vec_id - 16 AS INTEGER) AS code,
         list_slice(rv, s * 8 + 1, s * 8 + 8) AS cvec
  FROM kl_res, unnest(generate_series(0, 7)) AS t(s)
  WHERE vec_id >= 16 AND vec_id < 32
),
kl_subv AS (
  SELECT vec_id, list_id, s AS sub_id,
         list_slice(rv, s * 8 + 1, s * 8 + 8) AS svec
  FROM kl_res, unnest(generate_series(0, 7)) AS t(s)
),
kl_best AS (
  SELECT vec_id, list_id, sub_id, code FROM (
    SELECT sv.vec_id, sv.list_id, sv.sub_id, c.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub_id
                              ORDER BY round(list_reduce(list_transform(
                                generate_series(1, 8),
                                i -> (sv.svec[i] - c.cvec[i])
                                     * (sv.svec[i] - c.cvec[i])),
                                (x, y) -> x + y), 6), c.code) AS rn
    FROM kl_subv sv JOIN kl_cb c USING (sub_id)
  ) WHERE rn = 1
),
kl_probes AS (
  SELECT query_id, list_id, cv, qv FROM (
    SELECT q.query_id, c.list_id, c.cv, q.qv,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='c.cv', b='q.qv')} DESC, c.list_id ASC)
             AS pr
    FROM kl_c c, kl_q q
  ) WHERE pr <= 4
),
kl_qsub AS (
  SELECT query_id, list_id, s AS sub_id,
         list_slice(list_transform(generate_series(1, 64), i -> qv[i] - cv[i]),
                    s * 8 + 1, s * 8 + 8) AS qsv
  FROM kl_probes, unnest(generate_series(0, 7)) AS t(s)
),
kl_lut AS (
  SELECT qs.query_id, qs.list_id, qs.sub_id, c.code,
         round(list_reduce(list_transform(generate_series(1, 8),
               i -> (qs.qsv[i] - c.cvec[i]) * (qs.qsv[i] - c.cvec[i])),
               (x, y) -> x + y), 6) AS qd
  FROM kl_qsub qs JOIN kl_cb c USING (sub_id)
),
kl_adc AS (
  SELECT l.query_id, b.vec_id,
         round(list_reduce(list(l.qd ORDER BY b.sub_id), (x, y) -> x + y), 6)
           AS adc_dist
  FROM kl_best b
  JOIN kl_lut l
    ON b.list_id = l.list_id AND b.sub_id = l.sub_id AND b.code = l.code
  GROUP BY l.query_id, b.vec_id
),
kl_short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, vec_id) AS r
    FROM kl_adc
  ) WHERE r <= 100
),
kl_rr AS (
  SELECT s.query_id, t.vec_id,
         round(list_reduce(list_transform(generate_series(1, 64),
               i -> (t.ve[i] - q.qv[i]) * (t.ve[i] - q.qv[i])),
               (x, y) -> x + y), 6) AS l2_dist
  FROM kl_short s
  JOIN kl_t t USING (vec_id)
  JOIN kl_q q ON s.query_id = q.query_id
),
kl_knn AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY l2_dist, vec_id) AS rank
    FROM kl_rr
  ) WHERE rank <= 5
),
kl_votes AS (
  SELECT k.query_id, t.label, count(*) AS n_votes
  FROM kl_knn k JOIN kl_t t USING (vec_id)
  GROUP BY k.query_id, t.label
),
kl_picked AS (
  SELECT query_id,
         max(struct_pack(n := n_votes, neg := -label, lbl := label)) AS m
  FROM kl_votes GROUP BY query_id
)
SELECT p.query_id,
       struct_extract(m, 'lbl') AS predicted_label,
       CAST(struct_extract(m, 'n') AS BIGINT) AS n_votes,
       q.true_label,
       struct_extract(m, 'lbl') = q.true_label AS correct
FROM kl_picked p JOIN kl_q q USING (query_id)
ORDER BY p.query_id
"""

QUERIES["dp_knn_label_ivfpq"] = dp_knn_label_ivfpq
ORACLES["dp_knn_label_ivfpq"] = DP_KNN_LABEL_IVFPQ_SQL


QS_QUERY_PPMS = (500000, 900000, 990000)


def dp_qsketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable quantile sketch vs exact order statistics
    (datapipe/sketches.py qsketch_counts/qsketch_quantiles): per-doc
    token counts sketched into the <=160-row log-width histogram
    (8 sub-bins per octave, SUM-mergeable — the fourth write-time
    artifact next to HLL/CM/Bloom), p50/p90/p99 estimated as the
    holding bin's lower bound vs the exact rank-ceil(q*n) order
    statistic (the dataset_datasheet integer-rank law). est <= exact
    < next threshold by construction (one-sided within-one-bin,
    pinned in tests). The exact leg's global sort is the test-scale
    acceptance check only — at 100 TB the sketch IS the answer; the
    artifact folds per-partition with a constant shuffle."""
    from hadoop_ozone_spark.datapipe import sketches
    from pyspark.sql import Window

    from hadoop_ozone_spark import scratch

    docs = model.load(spark, sf_dir, "documents")
    tc = docs.select(
        "doc_id",
        F.size(text.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    # checkpoint the <=160-row artifact (the write-time-artifact
    # contract made literal): the quantile fold and both n references
    # read the cached sketch instead of re-running the corpus pass.
    # keep_ckpt, not keep (optimization r13, guide §7.3): the persist
    # form kept the corpus CASE-ladder tree in the plan, so each of
    # the 3 references re-optimized it on the driver per action — the
    # checkpoint leaf removes that
    scratch.fresh("dp_qsketch")
    counts = scratch.keep_ckpt(
        "dp_qsketch", sketches.qsketch_counts(tc, "n_tokens")
    )
    est = sketches.qsketch_quantiles(counts, QS_QUERY_PPMS)
    n = counts.agg(F.sum("cnt").alias("n"))
    ranked = tc.withColumn(
        "rn", F.row_number().over(Window.orderBy("n_tokens", "doc_id"))
    )
    # q_ppm axis as an inline literal explode, not a createDataFrame
    # crossJoin (one fewer Python parallelize job + broadcast per
    # action — see sketches.qsketch_quantiles)
    exact = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "q_ppm",
            F.explode(F.array(*[F.lit(q).cast("long") for q in QS_QUERY_PPMS])),
        )
        .filter(F.col("rn") == F.expr("(q_ppm * n + 999999) DIV 1000000"))
        .select("q_ppm", F.col("n_tokens").alias("exact_tokens"))
    )
    return (
        est.withColumnRenamed("est", "qsketch_tokens")
        .join(F.broadcast(exact), "q_ppm")
        .select(
            "q_ppm",
            "qsketch_tokens",
            "exact_tokens",
            F.expr(
                "(exact_tokens - qsketch_tokens) * 1000000"
                " DIV greatest(exact_tokens, 1)"
            ).alias("err_ppm"),
        )
        .orderBy("q_ppm")
    )


def _qsketch_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    ts = ", ".join(str(t) for t in sketches.QS_THRESHOLDS)
    qvals = ", ".join(f"({q})" for q in QS_QUERY_PPMS)
    return rf"""
WITH tc AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'))
           AS n_tokens
  FROM documents
),
counts AS (
  SELECT {sketches.qs_bin_sql("n_tokens")} AS bin, count(*) AS cnt
  FROM tc GROUP BY 1
),
totals AS (SELECT SUM(cnt) AS n FROM counts),
cum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM counts),
qd(q_ppm) AS (VALUES {qvals}),
pick AS (
  SELECT q_ppm, min(bin) AS bin
  FROM cum, totals, qd
  WHERE cum >= (q_ppm * n + 999999) // 1000000
  GROUP BY q_ppm
),
est AS (
  SELECT q_ppm,
         CASE WHEN bin = 0 THEN 0 ELSE ([{ts}])[bin] END AS qsketch_tokens
  FROM pick
),
exact AS (
  SELECT q_ppm, n_tokens AS exact_tokens
  FROM (SELECT n_tokens,
               row_number() OVER (ORDER BY n_tokens, doc_id) AS rn
        FROM tc),
       totals, qd
  WHERE rn = (q_ppm * n + 999999) // 1000000
)
SELECT e.q_ppm,
       CAST(qsketch_tokens AS BIGINT) AS qsketch_tokens,
       CAST(exact_tokens AS BIGINT) AS exact_tokens,
       CAST((exact_tokens - qsketch_tokens) * 1000000
            // greatest(exact_tokens, 1) AS BIGINT) AS err_ppm
FROM est e JOIN exact USING (q_ppm)
ORDER BY e.q_ppm
"""


DP_QSKETCH_SQL = _qsketch_sql()

QUERIES["dp_qsketch_tokens"] = dp_qsketch_tokens
ORACLES["dp_qsketch_tokens"] = DP_QSKETCH_SQL


def dp_qsketch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile sketch (sketches.qsketch_counts_grouped /
    qsketch_quantiles_grouped): per-SOURCE p50/p90 token counts from
    one sketch pass — the dataset-card histogram shape without a
    per-source sort: the map side collapses to <=160 (source, bin)
    rows per source before the shuffle, and the per-key cumulative
    window runs over the bounded artifact. Reported next to the exact
    per-source order statistic (the dataset_datasheet rank law) with
    err_ppm; grouped ≡ per-key ungrouped is pinned in tests."""
    from hadoop_ozone_spark.datapipe import sketches
    from pyspark.sql import Window

    docs = model.load(spark, sf_dir, "documents")
    tc = docs.select(
        F.col("source"),
        "doc_id",
        F.size(text.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    qs = (500000, 900000)
    est = sketches.qsketch_quantiles_grouped(
        sketches.qsketch_counts_grouped(tc, "source", "n_tokens"), qs
    ).withColumnRenamed("key", "source")
    w_rank = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    w_src = Window.partitionBy("source")
    # inline literal explode, not a createDataFrame crossJoin — see
    # sketches.qsketch_quantiles
    exact = (
        tc.select(
            "source",
            "n_tokens",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_src).alias("n"),
        )
        .withColumn(
            "q_ppm",
            F.explode(F.array(*[F.lit(q).cast("long") for q in qs])),
        )
        .filter(F.col("rn") == F.expr("(q_ppm * n + 999999) DIV 1000000"))
        .select("source", "q_ppm", F.col("n_tokens").alias("exact_tokens"))
    )
    return (
        est.withColumnRenamed("est", "qsketch_tokens")
        .join(exact, ["source", "q_ppm"])
        .select(
            "source",
            "q_ppm",
            "qsketch_tokens",
            "exact_tokens",
            F.expr(
                "(exact_tokens - qsketch_tokens) * 1000000"
                " DIV greatest(exact_tokens, 1)"
            ).alias("err_ppm"),
        )
        .orderBy("source", "q_ppm")
    )


def _qsketch_grouped_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    ts = ", ".join(str(t) for t in sketches.QS_THRESHOLDS)
    return rf"""
WITH tc AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'))
           AS n_tokens
  FROM documents
),
counts AS (
  SELECT source, {sketches.qs_bin_sql("n_tokens")} AS bin, count(*) AS cnt
  FROM tc GROUP BY 1, 2
),
totals AS (SELECT source, SUM(cnt) AS n FROM counts GROUP BY source),
cum AS (
  SELECT source, bin,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum
  FROM counts
),
qd(q_ppm) AS (VALUES (500000), (900000)),
pick AS (
  SELECT c.source, q_ppm, min(bin) AS bin
  FROM cum c JOIN totals t ON c.source = t.source, qd
  WHERE cum >= (q_ppm * n + 999999) // 1000000
  GROUP BY c.source, q_ppm
),
est AS (
  SELECT source, q_ppm,
         CASE WHEN bin = 0 THEN 0 ELSE ([{ts}])[bin] END AS qsketch_tokens
  FROM pick
),
exact AS (
  SELECT r.source, q_ppm, n_tokens AS exact_tokens
  FROM (SELECT source, n_tokens,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_tokens, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM tc) r, qd
  WHERE rn = (q_ppm * n + 999999) // 1000000
)
SELECT e.source, e.q_ppm,
       CAST(qsketch_tokens AS BIGINT) AS qsketch_tokens,
       CAST(exact_tokens AS BIGINT) AS exact_tokens,
       CAST((exact_tokens - qsketch_tokens) * 1000000
            // greatest(exact_tokens, 1) AS BIGINT) AS err_ppm
FROM est e JOIN exact USING (source, q_ppm)
ORDER BY e.source, e.q_ppm
"""


DP_QSKETCH_GROUPED_SQL = _qsketch_grouped_sql()

QUERIES["dp_qsketch_by_source"] = dp_qsketch_by_source
ORACLES["dp_qsketch_by_source"] = DP_QSKETCH_GROUPED_SQL


def dp_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations (datapipe/sketches.py kmv_set_ops):
    estimated distinct active user-days for 'click' vs 'purchase'
    events, their intersection / union / Jaccard, next to the exact
    truths — the cross-set overlap dial HLL cannot provide. Both
    sketches are ≤256-row artifacts; the truth columns are the
    exact-path cost the sketch exists to avoid at 100 TB."""
    from hadoop_ozone_spark.datapipe import sketches

    ev = model.load(spark, sf_dir, "events")
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.col("ts").cast("date").cast("string"),
    ).alias("k")
    a = ev.filter(F.col("event_type") == "click").select(key)
    b = ev.filter(F.col("event_type") == "purchase").select(key)
    # exclusive scratch tag (ADVICE r13 high): the corpus-drift query
    # composes KMV sketches of a DIFFERENT input — sharing the default
    # tag would let either build unpersist the checkpoint leaves the
    # other's returned frame still reads
    ops = sketches.kmv_set_ops(a, b, "k", tag="dp_kmv_user_overlap_ops")
    da, db = a.distinct(), b.distinct()
    ti = da.join(db, "k").agg(F.count(F.lit(1)).alias("true_inter"))
    tu = (
        da.union(db)
        .distinct()
        .agg(F.count(F.lit(1)).alias("true_union"))
    )
    return (
        ops.crossJoin(F.broadcast(ti))
        .crossJoin(F.broadcast(tu))
        .select(
            "a_est",
            "b_est",
            "inter_est",
            "union_est",
            "jaccard_ppm",
            "true_inter",
            "true_union",
            F.expr(
                "abs(inter_est - true_inter) * 1000000"
                " DIV greatest(true_inter, 1)"
            ).alias("inter_err_ppm"),
        )
    )


def _kmv_overlap_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    src = (
        "SELECT concat(CAST(user_id AS VARCHAR), '|',"
        " CAST(CAST(ts AS DATE) AS VARCHAR)) AS k"
        " FROM events WHERE event_type = '{et}'"
    )
    src_a, src_b = src.format(et="click"), src.format(et="purchase")
    return f"""
WITH ops AS ({sketches.kmv_set_ops_sql(src_a, src_b, "k")}),
ti AS (
  SELECT count(*) AS true_inter
  FROM (SELECT DISTINCT k FROM ({src_a})) a
  JOIN (SELECT DISTINCT k FROM ({src_b})) b USING (k)
),
tu AS (
  SELECT count(DISTINCT k) AS true_union
  FROM (SELECT k FROM ({src_a}) UNION ALL SELECT k FROM ({src_b}))
)
SELECT a_est, b_est, inter_est, union_est, jaccard_ppm,
       CAST(true_inter AS BIGINT) AS true_inter,
       CAST(true_union AS BIGINT) AS true_union,
       CAST(abs(inter_est - true_inter) * 1000000
            // greatest(true_inter, 1) AS BIGINT) AS inter_err_ppm
FROM ops, ti, tu
"""


DP_KMV_OVERLAP_SQL = _kmv_overlap_sql()

QUERIES["dp_kmv_user_overlap"] = dp_kmv_user_overlap
ORACLES["dp_kmv_user_overlap"] = DP_KMV_OVERLAP_SQL


def dp_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries top-10 tokens (datapipe/sketches.py mg_summary):
    the deterministic ≤16-key mergeable summary next to exact counts —
    unlike Count-Min it names the heavy hitters without a probe list,
    with the one-sided law est ≤ true ≤ est + threshold and
    threshold·(k+1) ≤ n pinned per row (within_law)."""
    from hadoop_ozone_spark.datapipe import sketches
    from hadoop_ozone_spark.datapipe import text as text_ops

    docs = model.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            text_ops.tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("token")
    )
    summ = sketches.mg_summary(tok, "token").withColumnRenamed("key", "token")
    truth = tok.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
    n = tok.agg(F.count(F.lit(1)).alias("_n"))
    return (
        summ.join(truth, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "token",
            "mg_count",
            "true_count",
            "mg_threshold",
            (
                (F.col("true_count") - F.col("mg_count"))
                * F.lit(sketches.MG_K + 1)
                <= F.col("_n")
            ).alias("within_law"),
        )
        .orderBy(F.desc("mg_count"), F.asc("token"))
        .limit(10)
    )


def _mg_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    tok_src = (
        r"SELECT unnest(regexp_split_to_array(trim(lower(COALESCE(text, ''))),"
        r" '\s+')) AS token FROM documents"
    )
    return f"""
WITH summ AS ({sketches.mg_summary_sql(tok_src, "token")}),
truth AS (
  SELECT token, count(*) AS true_count FROM ({tok_src}) GROUP BY token
),
n AS (SELECT count(*) AS _n FROM ({tok_src}))
SELECT key AS token,
       CAST(mg_count AS BIGINT) AS mg_count,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(mg_threshold AS BIGINT) AS mg_threshold,
       (true_count - mg_count) * {sketches.MG_K + 1} <= _n AS within_law
FROM summ JOIN truth ON summ.key = truth.token, n
ORDER BY mg_count DESC, token LIMIT 10
"""


DP_MG_SQL = _mg_sql()

QUERIES["dp_mg_heavy_hitters"] = dp_mg_heavy_hitters
ORACLES["dp_mg_heavy_hitters"] = DP_MG_SQL


def dp_mg_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Misra-Gries heavy hitters (sketches.mg_summary_grouped
    — completing the grouped sketch family next to HLL-G / QS-G /
    CM-G): each source's top-3 summary keys next to the exact counts,
    with the per-group one-sided law est <= true <= est + t verified
    per row (a group's summary is bit-identical to the ungrouped
    summary of its slice, pinned in tests). Unlike CM-G this names the
    heavy hitters without a probe list — the per-domain "what dominates
    this source" dial of a curation pipeline."""
    from hadoop_ozone_spark.datapipe import sketches
    from hadoop_ozone_spark.datapipe import text as text_ops
    from pyspark.sql import Window

    docs = model.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("source"),
        F.explode(
            text_ops.tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
        ).alias("token"),
    )
    summ = sketches.mg_summary_grouped(tok, "source", "token")
    truth = tok.groupBy(
        F.col("source").alias("key"), F.col("token").alias("val")
    ).agg(F.count(F.lit(1)).alias("true_count"))
    top3 = (
        summ.join(truth, ["key", "val"])
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("key").orderBy(
                    F.desc("mg_count"), F.asc("val")
                )
            ),
        )
        .filter(F.col("_rn") <= 3)
    )
    return top3.select(
        F.col("key").alias("source"),
        F.col("val").alias("token"),
        "mg_count",
        "true_count",
        "mg_threshold",
        (
            (F.col("true_count") - F.col("mg_count")) == F.col("mg_threshold")
        ).alias("law_exact"),
    ).orderBy("source", F.desc("mg_count"), F.asc("token"))


def _mg_grouped_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    tok_src = (
        r"SELECT source, unnest(regexp_split_to_array(trim(lower(COALESCE(text,"
        r" ''))), '\s+')) AS token FROM documents"
    )
    return f"""
WITH summ AS ({sketches.mg_summary_grouped_sql(tok_src, "source", "token")}),
truth AS (
  SELECT source AS key, token AS val, count(*) AS true_count
  FROM ({tok_src}) GROUP BY 1, 2
),
ranked AS (
  SELECT summ.key, summ.val, mg_count, true_count, mg_threshold,
         row_number() OVER (PARTITION BY summ.key
                            ORDER BY mg_count DESC, summ.val ASC) AS _rn
  FROM summ JOIN truth ON summ.key = truth.key AND summ.val = truth.val
)
SELECT key AS source, val AS token,
       CAST(mg_count AS BIGINT) AS mg_count,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(mg_threshold AS BIGINT) AS mg_threshold,
       (true_count - mg_count) = mg_threshold AS law_exact
FROM ranked WHERE _rn <= 3
ORDER BY source, mg_count DESC, token
"""


DP_MG_GROUPED_SQL = _mg_grouped_sql()

QUERIES["dp_mg_by_source"] = dp_mg_by_source
ORACLES["dp_mg_by_source"] = DP_MG_GROUPED_SQL


def dp_kmv_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap matrix from ONE grouped KMV build
    (sketches.kmv_pairwise_matrix — KMV-G completes the grouped sketch
    family): estimated distinct-user-day intersection / union /
    Jaccard for every unordered pair of event types. At 100 TB this is
    the dedup-planning matrix: |groups| sketches built in one pass,
    every pairwise overlap answered from ≤ |groups|·256 retained
    hashes — no per-pair rescan of the corpus."""
    from hadoop_ozone_spark.datapipe import sketches

    ev = model.load(spark, sf_dir, "events")
    keyed = ev.select(
        F.col("event_type"),
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.col("ts").cast("date").cast("string"),
        ).alias("k"),
    )
    return sketches.kmv_pairwise_matrix(keyed, "event_type", "k").orderBy(
        "key_a", "key_b"
    )


def _kmv_matrix_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    src = (
        "SELECT event_type, concat(CAST(user_id AS VARCHAR), '|',"
        " CAST(CAST(ts AS DATE) AS VARCHAR)) AS k FROM events"
    )
    return (
        sketches.kmv_pairwise_matrix_sql(src, "event_type", "k")
        + "ORDER BY key_a, key_b"
    )


DP_KMV_MATRIX_SQL = _kmv_matrix_sql()

QUERIES["dp_kmv_type_matrix"] = dp_kmv_type_matrix
ORACLES["dp_kmv_type_matrix"] = DP_KMV_MATRIX_SQL


def _drift_report(kmv: DataFrame, mg: DataFrame, qs: DataFrame) -> DataFrame:
    """The 9-metric long-format drift frame from the two sides' sketch
    artifacts, each given in long form keyed by ``side`` ('a'/'b'):
    kmv (side, h) — the side's KMV hashes; mg (side, key) — its
    Misra-Gries summary keys; qs (side, bin, cnt) — its quantile-sketch
    bins. Shared by the corpus-scan path (corpus_drift_report) and the
    zone-fed path (corpus_drift_from_zones) — the report is a pure
    function of the artifacts, wherever they came from.

    One global aggregate folds the artifacts into ONE row of per-side
    arrays (<= KMV_K hashes, <= MG_K keys, <= len(QS_THRESHOLDS)+1
    bins); the metrics are one projection of higher-order functions
    over that row, exploded once — no join, no per-metric leg. A side
    with no quantile bins (no docs) yields no p50/p90 rows, as
    qsketch_quantiles yields none."""
    from hadoop_ozone_spark.datapipe import sketches

    # each leg's columns are NULL on the other legs' rows
    row = (
        kmv.unionByName(mg, allowMissingColumns=True)
        .unionByName(qs, allowMissingColumns=True)
        .agg(
            *[
                F.expr(
                    f"{agg}(IF(side = '{s}' AND {leg} IS NOT NULL, {val}, NULL))"
                ).alias(f"{name}_{s}")
                for s in ("a", "b")
                for name, agg, leg, val in (
                    ("h", "collect_set", "h", "h"),
                    ("k", "collect_set", "key", "key"),
                    ("q", "collect_list", "bin", "named_struct('bin', bin, 'cnt', cnt)"),
                )
            ]
        )
    )
    union_est, jaccard_ppm = sketches.kmv_union_jaccard_sql("h_a", "h_b")
    metrics = {
        "hh_only_a": "size(array_except(k_a, k_b))",
        "hh_only_b": "size(array_except(k_b, k_a))",
        "hh_shared": "size(array_intersect(k_a, k_b))",
        "vocab_jaccard_ppm": jaccard_ppm,
        "vocab_union_est": union_est,
    }
    for q, p in ((500000, "p50"), (900000, "p90")):
        for s in ("a", "b"):
            metrics[f"{p}_tokens_{s}"] = sketches.qsketch_quantile_sql(f"q_{s}", q)
    legs = ", ".join(f"'{m}', CAST({v} AS BIGINT)" for m, v in sorted(metrics.items()))
    return (
        row.selectExpr(f"stack({len(metrics)}, {legs}) AS (metric, value)")
        .filter(F.col("value").isNotNull())
        .orderBy("metric")
    )


def corpus_drift_report(tagged: DataFrame) -> DataFrame:
    """Corpus-scan drift path over a (side, doc_id, text) frame (text
    already lowercased), as one lazy plan: one (side, token, cnt)
    aggregate over the token explosion feeds two per-side rank windows
    — the KMV_K smallest distinct hashes (dense_rank, so tied hashes
    share a rank as kmv_sketch's distinct hashes do) and the top MG_K+1
    counts (row_number by cnt desc, token asc, the mg_summary order),
    both under Spark's WindowGroupLimit threshold, so each side's top-k
    is cut per partition before the shuffle — plus the per-doc
    qsketch bin counts; _drift_report folds them. At 100 TB the sides'
    sketches are instead the write-time zone artifacts the streams
    maintain, folded by corpus_drift_from_zones (pinned equal in
    tests/test_sketch_stream.py)."""
    from pyspark.sql import Window

    from hadoop_ozone_spark.datapipe import sketches

    counts = (
        tagged.select("side", F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("side", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    kmv = (
        counts.select("side", sketches.kmv_hash(F.col("token")).alias("h"))
        .withColumn("_r", F.dense_rank().over(Window.partitionBy("side").orderBy("h")))
        .filter(F.col("_r") <= sketches.KMV_K)
        .select("side", "h")
    )
    # mg_summary's law over the top MG_K+1 rows: threshold t = the
    # (MG_K+1)-th count when there are that many keys, else 0; the
    # summary keys are those counted above t, all of which rank <= MG_K
    by_side = Window.partitionBy("side")
    mg = (
        counts.withColumn(
            "_r",
            F.row_number().over(by_side.orderBy(F.desc("cnt"), F.asc("token"))),
        )
        .filter(F.col("_r") <= sketches.MG_K + 1)
        .withColumn(
            "_t",
            F.when(
                F.count(F.lit(1)).over(by_side) > sketches.MG_K,
                F.min("cnt").over(by_side),
            ).otherwise(F.lit(0)),
        )
        .filter(F.col("cnt") > F.col("_t"))
        .select("side", F.col("token").alias("key"))
    )
    qs = sketches.qsketch_counts_grouped(
        tagged.select(
            "side",
            F.size(text.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        ),
        "side",
        "n_tokens",
    ).withColumnRenamed("key", "side")
    return _drift_report(kmv, mg, qs)


def corpus_drift_from_zones(
    spark: SparkSession, state_a: str, state_b: str
) -> DataFrame:
    """Zone-fed corpus drift (VERDICT r9 #3) — the 100 TB path: the
    same 9-metric report computed purely from the write-time sketch
    zone artifacts the streams maintain (sketch_stream
    process_set_batch lands KMV + MG zones over the token stream,
    process_numeric_batch lands quantile zones over per-doc token
    counts) — NO corpus scan, a constant-size fold per side. The KMV
    fold is exact and the quantile fold SUM-merges exactly, so those
    legs equal the corpus-scan report unconditionally; the MG fold
    obeys the mg_merge bound law and equals the batch summary exactly
    whenever no zone truncated (pinned: drift(zones) ≡ drift(corpus)
    in tests/test_sketch_stream.py)."""
    from hadoop_ozone_spark.streaming import sketch_stream

    def sides(read) -> DataFrame:
        a, b = (
            read(spark, state).withColumn("side", F.lit(s))
            for s, state in (("a", state_a), ("b", state_b))
        )
        return a.unionByName(b)

    return _drift_report(
        sides(sketch_stream.read_kmv_sketch),
        sides(sketch_stream.read_mg_summary)
        .filter(F.col("key").isNotNull())
        .select("side", "key"),
        sides(sketch_stream.read_qsketch_counts),
    )


def dp_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report between two source slices (src0-9 vs
    src10-19), composed ENTIRELY from the mergeable sketch family —
    the "did the new crawl shift the distribution" dial a curation
    pipeline reads before re-training, at sketch cost instead of a
    full-corpus diff:

    - vocabulary overlap via KMV theta set-ops (jaccard + union est);
    - heavy-hitter churn via the two Misra-Gries summaries' key sets
      (shared / only-a / only-b);
    - token-length distribution shift via per-side quantile-sketch
      p50/p90.

    One long-format (metric, value) frame, every leg's OUTPUT
    artifact-bounded. This registration scans the corpus to build the
    sides' sketches in one lazy plan (corpus_drift_report); at 100 TB
    the report instead folds the write-time zone artifacts —
    corpus_drift_from_zones, pinned equal to this path."""
    docs = model.load(spark, sf_dir, "documents")
    side = F.when(
        F.substring("source", 4, 10).cast("int") < 10, F.lit("a")
    ).otherwise(F.lit("b"))
    return corpus_drift_report(
        docs.select(
            side.alias("side"),
            "doc_id",
            F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
        )
    )


def _corpus_drift_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    def tok_src(cmp: str) -> str:
        return (
            r"SELECT unnest(regexp_split_to_array(trim(lower(COALESCE(text,"
            r" ''))), '\s+')) AS token FROM documents"
            f" WHERE CAST(substr(source, 4) AS INT) {cmp} 10"
        )

    src_a, src_b = tok_src("<"), tok_src(">=")
    ts = ", ".join(str(t) for t in sketches.QS_THRESHOLDS)

    def qs_leg(cmp: str, s: str) -> str:
        return rf"""
tc_{s} AS (
  SELECT len(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\s+'))
           AS n_tokens
  FROM documents WHERE CAST(substr(source, 4) AS INT) {cmp} 10
),
counts_{s} AS (
  SELECT {sketches.qs_bin_sql("n_tokens")} AS bin, count(*) AS cnt
  FROM tc_{s} GROUP BY 1
),
totals_{s} AS (SELECT SUM(cnt) AS n FROM counts_{s}),
cum_{s} AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM counts_{s}),
pick_{s} AS (
  SELECT q_ppm, min(bin) AS bin
  FROM cum_{s}, totals_{s}, (VALUES (500000), (900000)) qd(q_ppm)
  WHERE cum >= (q_ppm * n + 999999) // 1000000
  GROUP BY q_ppm
),
est_{s} AS (
  SELECT q_ppm,
         CASE WHEN bin = 0 THEN 0 ELSE ([{ts}])[bin] END AS est
  FROM pick_{s}
)"""

    return f"""
WITH ops AS ({sketches.kmv_set_ops_sql(src_a, src_b, "token")}),
mga AS ({sketches.mg_summary_sql(src_a, "token")}),
mgb AS ({sketches.mg_summary_sql(src_b, "token")}),
hh AS (
  SELECT COALESCE(SUM(CASE WHEN a.key IS NOT NULL AND b.key IS NOT NULL
                           THEN 1 ELSE 0 END), 0) AS shared,
         COALESCE(SUM(CASE WHEN b.key IS NULL THEN 1 ELSE 0 END), 0)
           AS only_a,
         COALESCE(SUM(CASE WHEN a.key IS NULL THEN 1 ELSE 0 END), 0)
           AS only_b
  FROM mga a FULL JOIN mgb b ON a.key = b.key
),{qs_leg("<", "a")},{qs_leg(">=", "b")}
SELECT metric, CAST(value AS BIGINT) AS value FROM (
  SELECT 'vocab_jaccard_ppm' AS metric, jaccard_ppm AS value FROM ops
  UNION ALL SELECT 'vocab_union_est', union_est FROM ops
  UNION ALL SELECT 'hh_shared', shared FROM hh
  UNION ALL SELECT 'hh_only_a', only_a FROM hh
  UNION ALL SELECT 'hh_only_b', only_b FROM hh
  UNION ALL SELECT CASE WHEN q_ppm = 500000 THEN 'p50_tokens_a'
                        ELSE 'p90_tokens_a' END, est FROM est_a
  UNION ALL SELECT CASE WHEN q_ppm = 500000 THEN 'p50_tokens_b'
                        ELSE 'p90_tokens_b' END, est FROM est_b
)
ORDER BY metric
"""


DP_CORPUS_DRIFT_SQL = _corpus_drift_sql()

QUERIES["dp_corpus_drift"] = dp_corpus_drift
ORACLES["dp_corpus_drift"] = DP_CORPUS_DRIFT_SQL


# --- BPE merge ladder (round 10) --------------------------------------------

BPE_VOCAB_N_MERGES = 8


def dp_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative BPE merge ladder (VERDICT r9 #4): run the full
    top-merge loop of byte-pair-encoding tokenizer training
    (datapipe/text.py bpe_learn_merges — Sennrich et al. 2016) to
    BPE_VOCAB_N_MERGES merges over the corpus word-frequency table and
    return the ordered merge log (merge_rank, left, right, pair_count)
    — the first N rows of the tokenizer's merges.txt.

    Scale shape (the dedup_clusters driver-loop discipline): the corpus
    collapses ONCE to its word-frequency table (the only corpus-sized
    shuffle; Heaps'-law bounded); each merge is a |vocab|-sized pair
    count + a 1-row winner broadcast + a map-only carry-fold rewrite,
    localCheckpointed so N merges stay N bounded passes. The DuckDB
    twin replays all N rounds as materialized chained CTEs — the
    carry-fold law is exactly leftmost-nonoverlapping replace on a
    marker-prefixed symbol string (pinned in tests/test_datapipe.py
    against a pure-Python reference)."""
    merges, _vocab = text.bpe_learn_merges(
        model.load(spark, sf_dir, "documents"), n_merges=BPE_VOCAB_N_MERGES
    )
    return merges


def _bpe_vocab_sql(n_merges: int = BPE_VOCAB_N_MERGES) -> str:
    """Chained-CTE DuckDB replay of bpe_learn_merges: round k counts
    freq-weighted adjacent symbol pairs of round k-1's vocabulary,
    adopts the (count desc, left, right) argmax, and rewrites every
    word with leftmost-nonoverlapping replace over the chr(1)-prefixed
    symbol string — byte-equivalent to the Spark side's carry fold
    (each symbol carries its leading marker, so a match never consumes
    the following symbol's boundary and '[a,a,a]' merges to '[aa,a]').
    Every stage is MATERIALIZED: the chain is evaluated once per round,
    not exponentially through inlined references."""
    parts = [
        r"""WITH v0 AS MATERIALIZED (
  SELECT word, count(*) AS freq,
         chr(1) || array_to_string(
           list_transform(generate_series(1, length(word)), i -> word[i]),
           chr(1)) AS repr
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents)
  WHERE length(word) >= 1
  GROUP BY word
)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""pi{k} AS (
  SELECT freq, toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM (SELECT freq, string_split(substr(repr, 2), chr(1)) AS toks FROM v{p})
  WHERE len(toks) >= 2
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT l, r, c FROM (
    SELECT toks[i] AS l, toks[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS c
    FROM pi{k} GROUP BY 1, 2
  ) ORDER BY c DESC, l, r LIMIT 1
)"""
        )
        parts.append(
            f"""v{k} AS MATERIALIZED (
  SELECT word, freq,
         replace(repr,
                 chr(1) || (SELECT l FROM m{k}) || chr(1) || (SELECT r FROM m{k}),
                 chr(1) || (SELECT l || r FROM m{k})) AS repr
  FROM v{p}
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS \"left\", r AS \"right\","
        f" c AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return ",\n".join(parts) + f"\n{union}\nORDER BY merge_rank"


DP_BPE_VOCAB_SQL = _bpe_vocab_sql()

QUERIES["dp_bpe_vocab"] = dp_bpe_vocab
ORACLES["dp_bpe_vocab"] = DP_BPE_VOCAB_SQL


# --- multimodal perceptual near-dup (round 10) -------------------------------

def dp_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over the BINARY media column (VERDICT r9
    #2): 63-bit dHash computed from the PPM payload bytes with SQL
    higher-order functions over the header columns
    (datapipe/multimodal.py media_dhash_frame), hamming-ball banding
    for candidates (the minhash band discipline), exact
    bit_count(xor) verify. The thumbnail
    corpus plants brightness-perturbed (+9, hamming 0) and
    crop-perturbed (last row dropped, hamming 2) copies; both are
    guaranteed recovered (4 bands cover hamming <= 3 by pigeonhole;
    recall pinned in tests/test_datapipe.py). The DuckDB twin replays
    the same grayscale law, sample grid, bit layout, banding, and
    verify."""
    docs = model.load(spark, sf_dir, "documents")
    return multimodal.media_near_dup_pairs(multimodal.synthesize_thumbnails(docs))


def _media_hashes_ctes(recursive: bool = False, deep: bool = False) -> str:
    """Shared DuckDB CTE prefix replaying synthesize_thumbnails +
    media_dhash_frame: the ``hashes`` frame is (did, dhash). ``recursive``
    emits WITH RECURSIVE for consumers whose tail needs a fixpoint
    member (the clusters twin's CC). ``deep`` adds the planted 16-bit
    slice (doc_id % 33 = 0 at +9M): its decoded high byte IS the base
    gray (sample = gray * 257), so the twin gives it the base image's
    hash — exactly what the engine's decode route must produce."""
    deep_arm = (
        "  UNION ALL\n"
        "  SELECT doc_id + 9000000, doc_id, 8, 8, 0\n"
        "  FROM documents WHERE doc_id % 33 = 0\n"
        if deep
        else ""
    )
    g = (
        "(33 + bright + d % 38"
        " + CASE WHEN (i * (w - 1)) // 7 >= 1 + d % 6 THEN 24 ELSE 0 END"
        " + CASE WHEN (j * (h - 1)) // 7 >= 1 + (d // 6) % 6 THEN 12 ELSE 0 END"
        " + ((((i * (w - 1)) // 7) * (2 + d % 5) + d % 7) % 4) * 2"
        " + (((i * (w - 1)) // 7) * (3 + (d // 7) % 4) + (d // 5) % 5) % 3)"
    )
    return f"""
WITH {"RECURSIVE " if recursive else ""}imgs AS (
  SELECT doc_id AS did, doc_id AS d, 8 AS w, 8 AS h, 0 AS bright
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 3000000, doc_id, 8, 8, 9
  FROM documents WHERE doc_id % 15 = 0
  UNION ALL
  SELECT doc_id + 6000000, doc_id, 8, 7, 0
  FROM documents WHERE doc_id % 21 = 0
{deep_arm}),
samples AS (
  SELECT did, i, j, {g} AS gray
  FROM imgs,
       (SELECT unnest(generate_series(0, 7)) AS i),
       (SELECT unnest(generate_series(0, 7)) AS j)
),
gmat AS (SELECT did, j, list(gray ORDER BY i) AS row FROM samples GROUP BY did, j),
hrows AS (SELECT did, j, row, unnest(generate_series(0, 6)) AS i FROM gmat),
hb AS (
  SELECT did, CAST(SUM(CASE WHEN row[i + 2] > row[i + 1]
                            THEN (1::BIGINT << (j * 7 + i)) ELSE 0 END) AS BIGINT) AS hbits
  FROM hrows GROUP BY did
),
gcol AS (SELECT did, list(gray ORDER BY j) AS colv
         FROM samples WHERE i = 0 GROUP BY did),
vrows AS (SELECT did, colv, unnest(generate_series(0, 6)) AS j FROM gcol),
vb AS (
  SELECT did, CAST(SUM(CASE WHEN colv[j + 2] > colv[j + 1]
                            THEN (1::BIGINT << (56 + j)) ELSE 0 END) AS BIGINT) AS vbits
  FROM vrows GROUP BY did
),
hashes AS (
  SELECT hb.did, hb.hbits + vb.vbits AS dhash
  FROM hb JOIN vb ON hb.did = vb.did
)"""


def _media_near_dup_sql(deep: bool = False) -> str:
    t = multimodal.NEAR_DUP_MAX_HAMMING
    return f"""{_media_hashes_ctes(deep=deep)},
bands AS (
  SELECT did, dhash, u.bi, u.bv FROM (
    SELECT did, dhash,
           unnest([
             {{'bi': 0, 'bv': dhash & 65535}},
             {{'bi': 1, 'bv': (dhash >> 16) & 65535}},
             {{'bi': 2, 'bv': (dhash >> 32) & 65535}},
             {{'bi': 3, 'bv': (dhash >> 48) & 32767}}]) AS u
    FROM hashes)
),
cand AS (
  SELECT DISTINCT a.did AS doc_a, b.did AS doc_b,
                  a.dhash AS ha, b.dhash AS hb
  FROM bands a JOIN bands b
    ON a.bi = b.bi AND a.bv = b.bv AND a.did < b.did
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {t}
ORDER BY doc_a, doc_b
"""


DP_MEDIA_NEAR_DUP_SQL = _media_near_dup_sql()

QUERIES["dp_media_near_dup"] = dp_media_near_dup
ORACLES["dp_media_near_dup"] = DP_MEDIA_NEAR_DUP_SQL


def dp_media_deep_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair contract over a corpus that INCLUDES
    out-of-law payloads (VERDICT r12 #4): the deep fixture plants a
    16-bit (maxval 65535) copy of every doc_id % 33 = 0 image at
    +9M. The fast Column hash NULLs those (2-byte samples), the
    routing lane (multimodal.media_dhash_frame_routed) decodes them —
    high byte at 8-bit depth — through the Arrow mapInPandas boundary,
    and they re-enter the SAME banding + verify, so every planted
    16-bit twin surfaces as a hamming-0 pair with its 8-bit original.
    The DuckDB twin needs no decode special-case: sample = gray * 257
    means high byte = gray, so the deep arm of the hashes CTE is just
    the base hash under the +9M id — which is exactly the claim being
    certified about the engine's decode route."""
    return multimodal.media_near_dup_pairs(
        multimodal.synthesize_thumbnails(
            model.load(spark, sf_dir, "documents"), deep=True
        )
    )


DP_MEDIA_DEEP_NEAR_DUP_SQL = _media_near_dup_sql(deep=True)

QUERIES["dp_media_deep_near_dup"] = dp_media_deep_near_dup
ORACLES["dp_media_deep_near_dup"] = DP_MEDIA_DEEP_NEAR_DUP_SQL


def dp_media_unsupported(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loud-failure audit row over the deep fixture
    (multimodal.media_unsupported_report): how many payloads the fast
    sample law could not index and therefore entered the decode lane.
    With the planted 16-bit slice this is exactly the doc_id % 33 = 0
    image population — a non-trivial count certifying the guard fires
    where it must (2-byte samples) and NOWHERE else (every 1-byte
    payload, any maxval 1..255, hashes on the fast path per ADVICE
    r12)."""
    return multimodal.media_unsupported_report(
        multimodal.synthesize_thumbnails(
            model.load(spark, sf_dir, "documents"), deep=True
        )
    )


DP_MEDIA_UNSUPPORTED_SQL = """
WITH imgs AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
SELECT CAST((SELECT COUNT(*) FROM imgs)
          + (SELECT COUNT(*) FROM imgs WHERE doc_id % 5 = 0)
          + (SELECT COUNT(*) FROM imgs WHERE doc_id % 7 = 0)
          + (SELECT COUNT(*) FROM imgs WHERE doc_id % 11 = 0) AS BIGINT)
         AS total,
       CAST((SELECT COUNT(*) FROM imgs)
          + (SELECT COUNT(*) FROM imgs WHERE doc_id % 5 = 0)
          + (SELECT COUNT(*) FROM imgs WHERE doc_id % 7 = 0) AS BIGINT)
         AS hashed,
       CAST((SELECT COUNT(*) FROM imgs WHERE doc_id % 11 = 0) AS BIGINT)
         AS unsupported
"""

QUERIES["dp_media_unsupported"] = dp_media_unsupported
ORACLES["dp_media_unsupported"] = DP_MEDIA_UNSUPPORTED_SQL


def dp_media_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dup CLUSTERS over the media plane — the scale-safe
    sibling of dp_media_near_dup (multimodal.py media_dup_clusters):
    exact hash classes collapse linearly (min-doc_id representative),
    banding + verify runs over representatives only, connected
    components over the rep graph assign one cluster per clique, and
    every image gets one output row (doc_id, cluster_id, cluster_size,
    keep). The all-pairs contract is output-quadratic on dup-dense
    corpora (the synthetic sf10 thumbnails hold 368M true hamming-0
    pairs in 186 classes); this contract stays linear in the corpus on
    the same input — it is the form a curation run executes (keep one
    per cluster). The DuckDB twin replays the hash law, class
    collapse, rep banding, and the CC fixpoint (the dp_dedup_clusters
    recursive-CTE discipline)."""
    docs = model.load(spark, sf_dir, "documents")
    return multimodal.media_dup_clusters(multimodal.synthesize_thumbnails(docs))


def _media_dup_clusters_sql() -> str:
    t = multimodal.NEAR_DUP_MAX_HAMMING
    return f"""{_media_hashes_ctes(recursive=True)},
classes AS (
  SELECT dhash, MIN(did) AS rep FROM hashes GROUP BY dhash
),
rbands AS (
  SELECT rep, dhash, u.bi, u.bv FROM (
    SELECT rep, dhash,
           unnest([
             {{'bi': 0, 'bv': dhash & 65535}},
             {{'bi': 1, 'bv': (dhash >> 16) & 65535}},
             {{'bi': 2, 'bv': (dhash >> 32) & 65535}},
             {{'bi': 3, 'bv': (dhash >> 48) & 32767}}]) AS u
    FROM classes)
),
redges AS (
  SELECT DISTINCT a.rep AS ra, b.rep AS rb
  FROM rbands a JOIN rbands b
    ON a.bi = b.bi AND a.bv = b.bv AND a.rep < b.rep
  WHERE bit_count(xor(a.dhash, b.dhash)) <= {t}
),
sym AS (
  SELECT ra AS node, rb AS nbr FROM redges
  UNION ALL
  SELECT rb, ra FROM redges
),
-- the recursive fixpoint propagates EVERY label through a component
-- (the UNION materializes O(k^2) rows for a k-node component), not
-- just the running minimum — safe here because the rep graph is
-- bounded by the corpus's perceptual variety (<=186 reps at sf10);
-- an sf10+ twin over a dense rep graph would need the iterative
-- min-label form dp_dedup_clusters' oracle uses instead
lbl(node, label) AS (
    SELECT node, LEAST(node, MIN(nbr)) FROM sym GROUP BY node
  UNION
    SELECT s.node, l.label FROM sym s JOIN lbl l ON l.node = s.nbr
),
rlbl AS (SELECT node, MIN(label) AS label FROM lbl GROUP BY node),
replabel AS (
  SELECT c.dhash, COALESCE(r.label, c.rep) AS cluster_id
  FROM classes c LEFT JOIN rlbl r ON r.node = c.rep
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS keep
FROM (
  SELECT h.did AS doc_id, rl.cluster_id
  FROM hashes h JOIN replabel rl ON h.dhash = rl.dhash
)
ORDER BY cluster_id, doc_id
"""


DP_MEDIA_DUP_CLUSTERS_SQL = _media_dup_clusters_sql()

QUERIES["dp_media_dup_clusters"] = dp_media_dup_clusters
ORACLES["dp_media_dup_clusters"] = DP_MEDIA_DUP_CLUSTERS_SQL


def dp_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable exact-k uniform row sample (datapipe/sketches.py
    reservoir_sample — bottom-k-by-hash; Vitter 1985's reservoir in
    its deterministic distributed reformulation, Cohen & Kaplan 2007):
    the k=100 documents with the smallest md5-lane draws of
    'rsv#doc_id' — the reproducible eval/inspection slice a curation
    run carves from an unbounded corpus. Where KMV samples the
    DISTINCT VALUES of a column (cardinality), this samples ROWS:
    exact size k, uniform, a pure function of (row set, seed). The
    artifact is input-size-independent and zones merge by
    union-then-k-smallest EXACTLY (sketch_stream.read_reservoir,
    stream ≡ batch pinned); the build is one TakeOrderedAndProject —
    per-partition bottom-k, never a global sort."""
    from hadoop_ozone_spark.datapipe import sketches

    docs = model.load(spark, sf_dir, "documents")
    return sketches.reservoir_sample(docs, "doc_id", k=100, seed="rsv")


def _reservoir_sample_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    return sketches.reservoir_sample_sql(
        "SELECT doc_id FROM documents", "doc_id", 100, "rsv"
    )


def dp_reservoir_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-k sample: the k=5 uniform rows per SOURCE via
    the key-partitioned rank window (the kmv_sketch_grouped /
    WindowGroupLimit-Partial shape — the hot source never forces its
    full row set through one task); each source's rows are
    bit-identical to the ungrouped sample of its slice. The
    per-stratum inspection slice a dataset card quotes."""
    from hadoop_ozone_spark.datapipe import sketches

    docs = model.load(spark, sf_dir, "documents")
    return (
        sketches.reservoir_sample_grouped(docs, "source", "doc_id", k=5, seed="rsv")
        .select(F.col("key").alias("source"), "h", "doc_id")
        .orderBy("source", "h", "doc_id")
    )


def _reservoir_by_source_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    draw = sketches.reservoir_draw_sql("doc_id", "rsv")
    return f"""
WITH drawn AS (
  SELECT source, {draw} AS h, doc_id
  FROM documents WHERE source IS NOT NULL
),
ranked AS (
  SELECT source, h, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM drawn
)
SELECT source, h, doc_id FROM ranked WHERE rn <= 5
ORDER BY source, h, doc_id
"""


QUERIES["dp_reservoir_sample"] = dp_reservoir_sample
ORACLES["dp_reservoir_sample"] = _reservoir_sample_sql()
QUERIES["dp_reservoir_by_source"] = dp_reservoir_by_source
ORACLES["dp_reservoir_by_source"] = _reservoir_by_source_sql()


def dp_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED exact-k sample without replacement (A-ExpJ /
    Efraimidis–Spirakis 2006 in the deterministic exponential-race
    form, datapipe/sketches.py weighted_reservoir_sample): the k=100
    documents winning the race key -ln(u)/w with w = n_chars — the
    token-budget-proportional eval slice (a doc is included with odds
    proportional to its size, so the slice represents the token
    distribution rather than the doc-count distribution). The float
    key orders but is never output; u is IEEE-exact from the md5 lane
    in both engines, so the selected SET is engine-portable. Merge =
    union-then-k-smallest-keys, exact (stream twin pinned)."""
    from hadoop_ozone_spark.datapipe import sketches

    docs = model.load(spark, sf_dir, "documents")
    return sketches.weighted_reservoir_sample(
        docs, "doc_id", "n_chars", k=100, seed="wrsv"
    )


def _reservoir_weighted_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    key = sketches.weighted_reservoir_key_sql("doc_id", "n_chars", "wrsv")
    return f"""
SELECT doc_id, weight FROM (
  SELECT doc_id, greatest(CAST(n_chars AS BIGINT), 1) AS weight,
         {key} AS _key
  FROM documents
  ORDER BY _key, doc_id LIMIT 100
) ORDER BY doc_id
"""


def dp_reservoir_weighted_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified weighted sample: the k=5 A-ExpJ winners per SOURCE
    via the key-partitioned rank window (WindowGroupLimit-Partial —
    the hot source never funnels through one task); each source's rows
    are bit-identical to the ungrouped weighted sample of its slice.
    The per-stratum size-proportional inspection slice."""
    from hadoop_ozone_spark.datapipe import sketches

    docs = model.load(spark, sf_dir, "documents")
    return sketches.weighted_reservoir_grouped(
        docs, "source", "doc_id", "n_chars", k=5, seed="wrsv"
    ).select(F.col("key").alias("source"), "doc_id", "weight")


def _reservoir_weighted_by_source_sql() -> str:
    from hadoop_ozone_spark.datapipe import sketches

    key = sketches.weighted_reservoir_key_sql("doc_id", "n_chars", "wrsv")
    return f"""
WITH ranked AS (
  SELECT source, doc_id, greatest(CAST(n_chars AS BIGINT), 1) AS weight,
         row_number() OVER (PARTITION BY source ORDER BY {key}, doc_id) AS rn
  FROM documents WHERE source IS NOT NULL
)
SELECT source, doc_id, weight FROM ranked WHERE rn <= 5
ORDER BY source, doc_id
"""


QUERIES["dp_reservoir_weighted"] = dp_reservoir_weighted
ORACLES["dp_reservoir_weighted"] = _reservoir_weighted_sql()
QUERIES["dp_reservoir_weighted_by_source"] = dp_reservoir_weighted_by_source
ORACLES["dp_reservoir_weighted_by_source"] = (
    _reservoir_weighted_by_source_sql()
)
