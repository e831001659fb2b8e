"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point at 100 TB):

- exact: one groupBy on a 128-bit content hash — shuffle keyed by the
  hash, perfectly balanced, map-side combinable.
- n-gram Jaccard (exact pairwise): only for oracle-sized verification
  or as the *verify* stage after LSH blocking — the shingle self-join
  is quadratic in the worst case and must never run unblocked on the
  full corpus.
- MinHash+LSH: the scale path. signatures = k min-hashes over shingles
  (map-only), banding → candidate pairs via groupBy on (band, hash) —
  the only shuffle — then exact-Jaccard verification on candidates only.
- SimHash: 128-bit fingerprint via sign-aggregated md5 token bits;
  near-dup = small Hamming distance within LSH buckets of fingerprint
  chunks (≥16-bit chunks → candidate count Θ(N²/65536) per chunk, the
  parameterization that survives 10⁹+ docs).

Two hash families share every plan:

- ``fast`` (default): xxhash64 lanes over hashed token tuples — no
  string materialization, the 100 TB path.
- ``portable``: 60-bit lanes from md5 hex prefixes — bit-identical in
  Spark (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
  (`CAST('0x'||substring(md5(x),1,15) AS BIGINT)`), so the DuckDB
  oracle replays the ENTIRE minhash pipeline (signatures, banding,
  verification) value-for-value. Same operators, same shuffles — only
  the lane expression differs, so a green portable check validates the
  shared plan the fast family runs at scale.

All shingle/hash computation is built-in Column expressions (xxhash64,
md5/conv, transform, aggregate) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_ozone_spark import scratch
from hadoop_ozone_spark.datapipe.text import tokens


def md5_lane(col: Column) -> Column:
    """Engine-portable 60-bit hash lane: the first 15 hex chars of md5,
    parsed as an integer. DuckDB twin:
    ``CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def md5_lane_sql(expr: str) -> str:
    """The DuckDB twin of :func:`md5_lane` (oracle SQL fragment)."""
    return f"CAST(concat('0x', substring(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5-groupBy; canonical = min doc_id per group.

    Returns one row per duplicate-set (n_copies >= 2) with the canonical
    id — the delete-list is everything in the group except canonical.
    """
    h = F.md5(F.col(text_col))
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
        .orderBy("canonical_doc_id")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (map-only).

    Docs shorter than ``n`` tokens produce the EMPTY shingle set —
    guarded explicitly because ``sequence(1, 0)`` counts DOWN in Spark
    ([1, 0]) and ``slice(toks, 0, n)`` then throws
    INVALID_PARAMETER_VALUE.START. The DuckDB oracles' twin
    ``generate_series(1, n_tok - (n-1))`` is empty for the same docs,
    so the guard is also the value-matching semantics.
    """
    toks = tokens(text)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingle_table(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )


def hashed_shingle_df(
    docs: DataFrame, text_col: str = "text", n: int = 3, portable: bool = False
) -> DataFrame:
    """(doc_id, h0: array<long>) — distinct shingle HASHES.

    fast family: no string materialization — hash each token once
    (projection barrier — element_at over a *column* reads the
    materialized array; inlining the token-hash expression into every
    position re-evaluates it O(tokens²)), then hash the n-tuple of
    token hashes per position. Equivalent blocking power to string
    shingles, no string building — the form the 100 TB minhash pass
    uses.

    portable family: md5 lanes over the shingle STRINGS (the exact
    form the DuckDB oracle rebuilds with list_transform)."""
    if portable:
        return docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles(F.col(text_col), n), md5_lane)
            ).alias("h0"),
        )
    th = docs.select(
        "doc_id",
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("th"),
    )
    # same short-doc guard as shingles(): sequence(1, 0) DESCENDS, and
    # element_at(th, 0) on the spurious i=0 throws — short docs hash to
    # the empty set in both families
    grams = F.when(
        F.size("th") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("th") - (n - 1)),
            lambda i: F.xxhash64(*[F.element_at(F.col("th"), i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return th.select("doc_id", F.array_distinct(grams).alias("h0"))


NGRAM_PAIRS_MAX_DOCS = 100_000  # fence: quadratic-in-the-worst-case operator


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_docs: int | None = NGRAM_PAIRS_MAX_DOCS,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard ≥ t).

    Blocked on shared shingles (pairs with zero overlap never meet).
    jaccard = |∩| / (|A| + |B| − |∩|) computed as exact-int division.

    Fence: the shingle self-join is quadratic under hot shingles, so
    this is for oracle-scale verification only — the corpus-scale path
    is :func:`minhash_dedup_pairs`, whose only all-pairs stage is LSH
    banding. Corpora larger than ``max_docs`` are refused (the check is
    a bounded ``limit(max_docs+1).count()``, never a full count); pass
    ``max_docs=None`` to override explicitly.
    """
    if max_docs is not None:
        if docs.limit(max_docs + 1).count() > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs: corpus exceeds max_docs={max_docs}; "
                "use minhash_dedup_pairs for full-corpus dedup, or pass "
                "max_docs=None if the quadratic risk is understood"
            )
    st = shingle_table(docs, text_col, n)
    sizes = st.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = st.alias("a")
    b = st.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


NUM_HASHES = 64  # minhash signature length
BANDS = 16      # 16 bands × 4 rows: S-curve midpoint (1/16)^(1/4) = 0.50
ROWS_PER_BAND = NUM_HASHES // BANDS
MINHASH_PRIME = (1 << 31) - 1  # Mersenne lane modulus (2-universal affine family)


def _minhash_coefficients(
    num_hashes: int, p: int = MINHASH_PRIME
) -> list[tuple[int, int]]:
    """Fixed (a_k, b_k) per lane from a seeded PRNG — identical constants
    are baked into the Spark plan and the generated DuckDB oracle SQL."""
    import random

    rng = random.Random(0xB0B5EED)
    return [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]


def _minhash_ab_sql(num_hashes: int) -> str:
    """The (a_k, b_k) coefficients as one SQL array literal:
    array<struct<a:int, b:int>> (every coefficient is below 2^31 − 1)."""
    return "array(" + ", ".join(
        f"named_struct('a', {a}, 'b', {b})"
        for a, b in _minhash_coefficients(num_hashes)
    ) + ")"


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, sig: array<long>[k]) — k-min-hash signatures.

    Two-step: hash each string shingle ONCE to a long (the expensive
    string pass), then derive the k hash families by re-hashing the
    long array with k seeds (cheap long→long). Naively inlining the
    shingle construction into every seed branch recomputes the
    split/slice/join pipeline k times per row — 25× slower measured.
    """
    return signatures_from_hashed(
        hashed_shingle_df(docs, text_col, n, portable=portable), num_hashes, portable=portable
    )


def signatures_from_hashed(
    hashed: DataFrame, num_hashes: int = NUM_HASHES, portable: bool = False
) -> DataFrame:
    """(doc_id, h0) → (doc_id, sig); split out so a pipeline that also
    needs the shingle sets for verification computes the text pass once.

    fast family: k xxhash64(long, seed) lanes — cheap long→long.

    portable family: the classic 2-universal affine family over the
    60-bit shingle hash — lane_k = (a_k·x + b_k) mod p with
    x = h0 mod p, p = 2^31−1 and fixed seeded (a_k, b_k) (the same
    family Spark MLlib's MinHashLSH uses). ZERO extra hashing: the only
    md5 in the whole pipeline is the shingle pass; all k lanes are long
    multiply-add-mod. ANSI-safe: a·x + b < 2^31·2^31 + 2^31 < 2^63.
    The x = h0 mod p reduction is chained through its OWN transform
    projection so it is evaluated once per shingle, not once per lane
    (lambda-internal subexpressions are not CSE'd). Mod-p collisions
    between distinct shingles only create min-ties, which only ADD
    candidates; exact-Jaccard verify over the full 60-bit h0 sets keeps
    the final pair output identical to the fast family's."""
    if portable:
        # per shingle: x = h0 mod p, then k arithmetic lanes over a
        # constant-folded (a, b) struct array. nested transforms (loops
        # in codegen), never k unrolled expressions: the unrolled form
        # generated megabyte-scale methods that fell out of whole-stage
        # codegen (3× slower). The array is one SQL literal: built from
        # Column calls it cost ~12 py4j round trips per element
        ab = F.expr(_minhash_ab_sql(num_hashes))
        xs = F.transform(F.col("h0"), lambda h: F.pmod(h, F.lit(MINHASH_PRIME)))
        lanes_per_shingle = F.transform(
            xs,
            lambda x: F.transform(
                ab, lambda s: F.pmod(s["a"] * x + s["b"], F.lit(MINHASH_PRIME))
            ),
        )
        hx = hashed.select("doc_id", lanes_per_shingle.alias("_hx"))
        # element-wise min across shingles: one aggregate + zip_with
        sig = F.aggregate(
            F.col("_hx"),
            F.array_repeat(F.lit((1 << 62)).cast("long"), num_hashes),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
        )
        return hx.select("doc_id", sig.alias("sig"))

    # same loop shaping for the xxhash64 family: per shingle an array of
    # k lanes (xxhash64(h, k) — identical values to the unrolled
    # xxhash64(h, lit(k)) form), then one aggregate of element-wise mins
    lanes_per_shingle = F.transform(
        F.col("h0"),
        lambda h: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)), lambda k: F.xxhash64(h, k)
        ),
    )
    hx = hashed.select("doc_id", lanes_per_shingle.alias("_hx"))
    sig = F.aggregate(
        F.col("_hx"),
        F.array_repeat(F.lit(9223372036854775807).cast("long"), num_hashes),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
    )
    return hx.select("doc_id", sig.alias("sig"))


def band_table(sigs: DataFrame, portable: bool = False) -> DataFrame:
    """(doc_id, sig) → (doc_id, band_id, band_hash): the LSH banding
    table — ALSO the persisted index artifact of the incremental path
    (partition by band_hash at write time so delta probes prune)."""

    def band_key(joined: Column) -> Column:
        return joined if portable else F.xxhash64(joined)

    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    band_key(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    sigs: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band-hash become candidate pairs.

    Shuffle is keyed by (band_id, band_hash) — the classic MinHash-LSH
    plan; bucket skew (a degenerate shingle shared by everything) is
    handled by AQE skew-split at scale. The portable family joins on
    the comma-joined band slice itself (no extra hash — DuckDB builds
    the identical string).
    """
    if sigs is None:
        sigs = minhash_signatures(docs, text_col, n, portable=portable)
    bands = band_table(sigs, portable=portable)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    scratch_tag: str = "minhash_dedup_pairs",
) -> DataFrame:
    """Full MinHash pipeline: LSH candidates → exact-Jaccard verify.

    Verification scores each candidate PAIR directly: join the two
    shingle-set arrays onto the pair and compute
    |array_intersect| / |union|. Cost is O(|candidates| × shingles),
    never a shingle self-join — an earlier formulation re-ran the
    blocked quadratic join over candidate docs and blew up on hot
    shingles (shared vocabulary) at 10× corpus size. This is the
    100 TB shape: LSH banding is the only all-pairs stage.
    """
    # ONE text pass: the tokenization + shingle-hash pipeline is the
    # dominant cost, and the plan consumes it from three branches
    # (banding, verify side a, verify side b). Persist the tiny
    # (doc_id, hashes) frame so the branches share it instead of each
    # re-running the string pass — 2× faster measured at sf0.1.
    # Persist BEFORE the empty-shingle filter: a filter on the raw frame
    # gets predicate-pushed below the projection and re-evaluates the
    # whole shingle-hash expression a second time for the condition
    # (2× the text pass, measured); on the cached frame it is a cheap
    # size() check. <n-token docs have no shingles → no pairs, and no
    # null-lane band keys.
    # ``scratch_tag`` lets plan-distinct twins (portable vs fast hash
    # family, benched interleaved) hold separate cache slots instead of
    # evicting each other's generation on every alternation
    scratch.fresh(scratch_tag)
    hashed = scratch.keep(
        scratch_tag, hashed_shingle_df(docs, text_col, n, portable=portable)
    )
    hashed = hashed.filter(F.size("h0") > 0)
    # persist the (doc_id, sig) frame too: the band self-join consumes
    # it from BOTH sides, and when Spark picks a broadcast join for the
    # bands there is no shuffle exchange to reuse — without the persist
    # the whole lane pass runs twice (measured). k longs per doc: tiny.
    sigs = scratch.keep(
        scratch_tag, signatures_from_hashed(hashed, portable=portable)
    )
    cands = minhash_lsh_candidates(docs, text_col, n, sigs=sigs, portable=portable)
    sets = hashed.withColumnRenamed("h0", "sh")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            F.size("sh_a").alias("size_a"),
            F.size("sh_b").alias("size_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def minhash_incremental_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    corpus_hashed: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs INVOLVING a delta doc — the
    shape a rolling training-data ingest needs (yesterday's corpus is
    already deduped; today's batch must be checked against it and
    against itself, without re-pairing the corpus with itself).

    Emits (doc_a, doc_b, ..., jaccard, pair_type) with doc_a < doc_b and
    pair_type ∈ {'delta_corpus', 'delta_delta'}; corpus↔corpus pairs are
    excluded by construction (the delta side drives the band join).
    Requires corpus and delta doc_ids to be disjoint.

    Scale shape: the corpus's band table and hashed-shingle table are
    exactly the frames :func:`band_table` / :func:`hashed_shingle_df`
    produce — pass them in as ``corpus_bands`` / ``corpus_hashed``
    (write-time artifacts, persisted partitioned by band_hash / doc_id
    respectively) and the per-batch cost is O(|delta| + matched
    buckets), never a corpus text re-scan: the delta drives the band
    join against the band index, and the corpus shingle table is only
    probed on the matched doc ids. Without them this falls back to
    recomputing both from ``corpus`` (fine for one-shot use). The law
    ``pairs(corpus ∪ delta) = pairs(corpus) ∪ incremental(corpus, delta)``
    holds exactly for the same hash family (pinned by
    test_minhash_incremental_matches_batch).
    """
    scratch.fresh("minhash_incremental_pairs")
    if corpus_hashed is None:
        ch = scratch.keep(
            "minhash_incremental_pairs",
            hashed_shingle_df(corpus, text_col, n, portable=portable),
        )
        ch = ch.filter(F.size("h0") > 0)
    else:
        ch = corpus_hashed.filter(F.size("h0") > 0)
    dh = scratch.keep(
        "minhash_incremental_pairs",
        hashed_shingle_df(delta, text_col, n, portable=portable),
    )
    dh = dh.filter(F.size("h0") > 0)
    if corpus_bands is None:
        cb = band_table(
            signatures_from_hashed(ch, portable=portable), portable=portable
        )
    else:
        cb = corpus_bands
    cb = cb.withColumn("is_delta", F.lit(False))
    db = scratch.keep(
        "minhash_incremental_pairs",
        band_table(
            signatures_from_hashed(dh, portable=portable), portable=portable
        ).withColumn("is_delta", F.lit(True)),
    )
    all_b = cb.unionByName(db).alias("b")
    d = db.alias("a")
    cand = (
        d.join(
            all_b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            (F.col("a.is_delta") & F.col("b.is_delta")).alias("both_delta"),
        )
        .distinct()
    )
    sets = ch.unionByName(dh).withColumnRenamed("h0", "sh")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
            F.when(F.col("both_delta"), F.lit("delta_delta"))
            .otherwise(F.lit("delta_corpus"))
            .alias("pair_type"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_BITS = 128  # md5-derived fingerprint width


def simhash_chunk_layout(max_hamming: int, num_bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """(start_bit, width) per blocking chunk.

    Pigeonhole recall guarantee: with ``n_chunks ≥ max_hamming + 2``,
    at most max_hamming chunks differ, so ≥2 chunks agree — hence at
    least one chunk PAIR agrees, which is what the pair-blocking join in
    :func:`simhash_pairs` keys on (32-bit composite keys). Chunk count
    is max(max_hamming+2, 8) so a chunk never exceeds 16 bits — the
    SCALE constraint: blocking selectivity must survive CORRELATED
    corpora. Real corpora share vocabulary, so fingerprint chunks are
    far from uniform; single-16-bit-chunk blocking measured 23.5M
    candidate pairs on a 60k shared-vocab corpus, while pair blocking's
    ~32-bit keys keep candidates near-linear. More chunks than the
    minimum only adds recall, never loses it.
    """
    n_chunks = max(max_hamming + 2, num_bits // 16)
    base, rem = divmod(num_bits, n_chunks)
    layout, start = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        layout.append((start, w))
        start += w
    return layout


def simhash_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """128-bit SimHash fingerprints as bit-sign sums: (doc_id, b0..b127).

    bit_j's sum = Σ_distinct-tokens (bit_j(md5(token)) ? +1 : −1); the
    fingerprint bit is sign(sum). Bits come from md5 parsed as four
    32-bit words (word w = hex chars 8w+1..8w+8; bit j = bit j%32 of
    word j//32) — engine-portable, so the DuckDB oracle reproduces
    fingerprints exactly.

    Shape: explode distinct tokens → ONE md5 per token (its own
    projection, so the 4 word-parses don't recompute the digest) →
    4 plain long words per token (no array allocation — an earlier
    nibble-array form was GC-bound at 10⁸ exploded tokens) → one
    groupBy with 128 narrow SUM aggregates (map-side combinable, flat —
    a nested array-fold formulation blew codegen at 64 bits).
    """
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t")
    )
    hexes = tok.select("doc_id", F.md5("t").alias("h"))
    words = hexes.select(
        "doc_id",
        *[
            F.conv(F.substring("h", 1 + 8 * w, 8), 16, 10).cast("long").alias(f"w{w}")
            for w in range(SIMHASH_BITS // 32)
        ],
    )
    aggs = [
        F.sum(
            F.shiftright(F.col(f"w{j // 32}"), j % 32).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    return words.groupBy("doc_id").agg(*aggs)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 7
) -> DataFrame:
    """(doc_id, fpc: array<long>) — the fingerprint folded into blocking
    chunks per :func:`simhash_chunk_layout` (chunk c = Σ_i bit_{s+i}<<i)."""
    layout = simhash_chunk_layout(max_hamming)
    sums = simhash_table(docs, text_col)

    def chunk_val(start: int, width: int) -> Column:
        v = F.lit(0).cast("long")
        for i in range(width):
            v = v + F.when(F.col(f"b{start + i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return v

    fpc = F.array(*[chunk_val(s, w) for s, w in layout])
    return sums.select("doc_id", fpc.alias("fpc"))


def simhash_blocks(fp: DataFrame, n_chunks: int) -> DataFrame:
    """Fingerprints → pair-blocking table (doc_id, fpc, blk, c1, c2):
    one row per chunk PAIR (i < j), keyed by the pair id and both chunk
    values — a ~32-bit composite blocking key. Candidates must agree on
    TWO chunks, which keeps bucket fan-in selective even on correlated
    corpora where individual 16-bit chunk values concentrate."""
    pair_structs = [
        F.struct(
            F.lit(pid).alias("blk"),
            F.element_at("fpc", i + 1).alias("c1"),
            F.element_at("fpc", j + 1).alias("c2"),
        )
        for pid, (i, j) in enumerate(
            (i, j) for i in range(n_chunks) for j in range(i + 1, n_chunks)
        )
    ]
    return fp.select(
        "doc_id", "fpc", F.explode(F.array(*pair_structs)).alias("c")
    ).select("doc_id", "fpc", "c.blk", "c.c1", "c.c2")


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 7
) -> DataFrame:
    """SimHash near-dup pairs: block on fingerprint chunk PAIRS, verify
    exact Hamming distance on candidates.

    Hamming distance = Σ_chunks bit_count(chunk_a XOR chunk_b) — exact,
    since the chunks partition the 128 bits. Blocking shuffle is keyed
    by (pair_id, chunk_i, chunk_j): with ≤ max_hamming dirty chunks and
    n_chunks ≥ max_hamming+2, some pair of chunks is untouched, so
    recall is still guaranteed by pigeonhole — but the key is ~32 bits
    instead of 16, which is what survives correlated real-world corpora
    (single-chunk blocking measured Θ(N²)-ish 23.5M candidates on a 60k
    shared-vocab probe; pair blocking stays near-linear). The exact
    hamming filter makes the OUTPUT independent of the blocking scheme,
    so the DuckDB oracle may block per single chunk and still match.
    """
    layout = simhash_chunk_layout(max_hamming)
    # both sides of the chunk self-join consume the fingerprints; persist
    # so the token-explode + 128-sum aggregation runs once, not twice
    scratch.fresh("simhash_pairs")
    fp = scratch.keep(
        "simhash_pairs", simhash_fingerprints(docs, text_col, max_hamming)
    )
    blocks = simhash_blocks(fp, len(layout))
    a = blocks.alias("a")
    b = blocks.alias("b")
    hamming = F.aggregate(
        F.zip_with("a.fpc", "b.fpc", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c1") == F.col("b.c1"))
            & (F.col("a.c2") == F.col("b.c2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def connected_dedup_groups(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Transitive dedup groups: connected components over any near-dup
    pair stream (exact, n-gram, MinHash, SimHash — anything emitting
    (doc_a, doc_b)). Returns (doc_id, group_id) for every doc that
    appears in a pair, where group_id = the smallest doc_id reachable
    through dup edges — the canonical representative to KEEP; everything
    else in the group is the drop set.

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbours' labels; converges in O(component
    diameter) rounds (dup components are tiny cliques/chains, so 2-3
    rounds in practice). Each round is one shuffle join + one
    map-side-combinable groupBy; lineage is truncated per round with
    localCheckpoint so plans stay flat. At extreme scale swap the loop
    body for large-star/small-star — the per-round plan shape is the
    same.
    """
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        und.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("group_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        neigh_min = (
            und.join(labels, und["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("group_id").alias("n_min"))
        )
        proposed = (
            labels.join(neigh_min, labels["doc_id"] == neigh_min["src"], "left")
            .select(
                "doc_id",
                F.col("group_id").alias("old_group"),
                F.least(
                    F.col("group_id"), F.coalesce(F.col("n_min"), F.col("group_id"))
                ).alias("group_id"),
            )
            # lazy: the changed-count below materializes the round's
            # checkpoint inside its own job — one action per round, not
            # two (optimization r13; this loop never unpersists, so the
            # lazy form has no freed-parent hazard)
            .localCheckpoint(eager=False)
        )
        changed = proposed.filter(F.col("group_id") < F.col("old_group")).count()
        labels = proposed.drop("old_group")
        if changed == 0:
            break
    return labels


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (doc_id, cluster_id, cluster_size, keep) with cluster_id = the
    component's minimum doc_id and keep marking the canonical doc.

    This is the step that turns pair-level detectors (minhash/simhash
    output is EDGES) into the keep-one-per-CLUSTER delete list a
    curation run actually executes: transitivity matters — A~B and B~C
    must land A, B, C in one cluster even though the detector never
    scored (A, C).

    Algorithm: min-label propagation WITH pointer jumping (the
    Hash-to-Min / two-phase CC family — Rastogi et al. 2013; also how
    GraphFrames' connectedComponents is built): each round sets
    label(v) ← min(label(v), min_{u∈N(v)} label(u), label(label(v))).
    The neighbor fold alone moves a label ONE hop per round (rounds =
    component diameter — a 40-diameter chain probe measured 40 rounds,
    58s for 1M edges); the label(label(v)) path-halving join cuts that
    to O(log diameter) (same probe: 7 rounds, see BENCH_NOTES). Every
    round is two node-keyed equi-joins + a map-side-combinable min —
    the 100 TB-safe CC shape (no all-pairs stage, no vertex state off
    the node partition); labels only decrease, and every label IS a
    node id, so the jump join always resolves. The driver sees one
    changed-count per round (bounded by
    ``max_iters``, never data-sized) — the standard iterative-algorithm
    exception to the no-driver-loop rule; each round's labels are
    localCheckpoint-ed — persist alone caches blocks but keeps the
    LINEAGE, and the self-referential step doubles the plan tree per
    round (a 9-round chain OOMed the driver in generateTreeString
    before the checkpoint). On a cluster with executor churn, point
    sparkContext.setCheckpointDir at durable storage and swap in
    .checkpoint(); the law is identical."""
    scratch.fresh("dedup_clusters")
    sym = pairs.select(
        F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("nbr"))
    )
    edges = scratch.keep("dedup_clusters", sym)
    labels = scratch.keep(
        "dedup_clusters",
        edges.groupBy("node").agg(
            F.least(F.col("node"), F.min("nbr")).alias("label")
        ),
    )
    prev_ckpts: list[DataFrame] = []
    for _ in range(max_iters):
        prop = (
            edges.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_label").alias("nbr_label"))
        )
        folded = labels.join(prop, "node", "left").select(
            "node",
            "label",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("mid_label"),
        ).localCheckpoint()
        changed = folded.filter(F.col("mid_label") < F.col("label")).count()
        # Convergence is decided on the NEIGHBOR FOLD, before the
        # pointer-jump join is ever built (optimization r13): over the
        # symmetrized edge set, a fold that moves nothing means
        # label(u) == label(v) across every edge — labels are constant
        # per component, i.e. the TRUE fixed point — so the jump (a
        # pure accelerator) has nothing left to do. Dup graphs are
        # mostly cliques that converge at initialization, and the old
        # shape paid the folded⋈folded self-join (with folded's 3-join
        # subtree duplicated, un-checkpointed) on exactly that final
        # verification round — measured 10.9s of a 14.1s query on a
        # 183-node rep graph.
        if changed == 0:
            # labels (the PRE-round frame) is already the fixed point;
            # this round's fold carried no news — drop its blocks. The
            # checkpoint backing `labels` itself stays live: downstream
            # (label_frame/sizes) still reads it.
            folded.unpersist()
            break
        # pointer jumping: label(label(v)) — one equi-join of the round's
        # label map with itself (mid_label is always a node id); folded
        # is checkpointed above, so both join sides scan the cached
        # blocks instead of re-deriving the fold twice
        lmap = folded.select(
            F.col("mid_label").alias("jump"), F.col("node").alias("mid_label")
        )
        stepped = folded.join(lmap, "mid_label", "left").select(
            "node",
            F.least(
                F.col("mid_label"), F.coalesce("jump", F.col("mid_label"))
            ).alias("label"),
        ).localCheckpoint()
        # stepped is materialized (localCheckpoint is eager), so the
        # previous round's label checkpoint and this round's fold are
        # unreachable from any future lineage — free them, or the
        # per-round checkpoints accumulate to OOM (a 30M-edge probe
        # died at 8g holding 7 rounds of labels)
        folded.unpersist()
        for p in prev_ckpts:
            p.unpersist()
        prev_ckpts = [stepped]
        labels = stepped
    # cluster_size via a map-side-combinable groupBy joined back — NEVER
    # a count window over cluster_id: cluster_id is the one key this
    # operator guarantees is skewed (a dup-dense corpus IS a hot
    # cluster), and WindowExec materializes each partition in ONE task,
    # serializing the viral cluster through a single core at scale. The
    # groupBy reduces the hot key in parallel before its shuffle, and
    # the join back is an AQE-splittable shuffle join (broadcast when
    # |clusters| is small enough for AQE to pick it).
    label_frame = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    sizes = label_frame.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        label_frame.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    portable: bool = False,
    scratch_tag: str | None = None,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    algorithm): slide a window of ``w`` consecutive k-gram hashes over
    each doc and select each window's MINIMUM hash, ties → RIGHTMOST
    position (robust winnowing, §4 of the paper). Guarantee: any match
    of length ≥ k + w − 1 tokens shares at least one fingerprint, and
    density is ~2/(w+1) of all grams.

    (doc_id, pos, fp) — distinct selected positions. One window pass:
    the per-window argmin with rightmost tie-break is
    min(struct(gram, −pos)) over a ``w``-row trailing frame
    (lexicographic struct min — the engine-portable argmin idiom);
    prefix-partial windows (pos < w) are excluded, so selection starts
    at the first FULL window, matching the paper's definition."""
    grams = positional_gram_table(docs, text_col, k, portable, scratch_tag)
    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    sel = F.min(
        F.struct(F.col("gram").alias("g"), (-F.col("pos")).alias("np"))
    ).over(win)
    return (
        grams.select("doc_id", "pos", sel.alias("m"))
        .filter(F.col("pos") >= w)
        .select(
            "doc_id", (-F.col("m.np")).alias("pos"), F.col("m.g").alias("fp")
        )
        .distinct()
    )


def winnow_similarity_report(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    portable: bool = False,
    max_df: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """MOSS-style overlap report over winnowing fingerprints: doc pairs
    sharing ≥ ``min_shared`` distinct selected hashes, with each side's
    fingerprint count and overlap_ppm = shared·1e6 DIV min(side sizes).

    Fingerprints selected in more than ``max_df`` docs are culled
    BEFORE pairing (MOSS's too-common filter — boilerplate shared by
    everyone identifies no one), which also bounds the self-join:
    ≤ max_df² pairs per fingerprint, the LSH-band cost law. No other
    stage is pair-shaped; everything else is fingerprint- or doc-keyed
    map-side-combinable aggregation."""
    scratch.fresh("winnow_report")
    fpd = scratch.keep(
        "winnow_report",
        winnow_fingerprints(
            docs, text_col, k, w, portable, scratch_tag="winnow_report"
        )
        .select("doc_id", "fp")
        .distinct(),
    )
    dft = (
        fpd.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    rare = fpd.join(dft, "fp")
    pairs = (
        rare.select(F.col("doc_id").alias("doc_a"), "fp")
        .join(rare.select(F.col("doc_id").alias("doc_b"), "fp"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sizes = fpd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr("n_shared * 1000000 DIV least(n_fp_a, n_fp_b)").alias(
                "overlap_ppm"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_clusters_incremental(
    prior_labels: DataFrame, new_pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Rolling-ingest clustering: yesterday's (doc_id, cluster_id)
    labels + today's delta pairs → updated clusters, WITHOUT re-running
    CC over the corpus pair graph.

    Law: a label table is a CONTRACTION of the old graph — each
    non-canonical row is the edge (doc_id, cluster_id), and contraction
    preserves both membership and the component minimum (cluster ids
    are component minima, and delta ids are new). So
    clusters(old_pairs ∪ new_pairs) ==
    clusters_incremental(clusters(old_pairs), new_pairs) — pinned in
    tests. Cost: CC over |prior labels| + |delta pairs| STAR-SHAPED
    edges (the contraction is depth-1 by construction), converging in
    2-3 rounds regardless of how chain-y the original graph was."""
    prior_edges = prior_labels.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(
        F.col("cluster_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    return dedup_clusters(
        prior_edges.unionByName(new_pairs.select("doc_a", "doc_b")), max_iters
    )


def dedup_rate_report(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source duplication dashboard — the data-quality rollup a
    curation run reports before/after dedup: docs, distinct contents
    (md5), exact-duplicate count and rate per source. One
    map-side-combinable groupBy over (source, content hash) then a
    per-source rollup; no joins, no pair enumeration — this is the
    cheap health metric, the pair-level detectors are the scalpel.
    """
    h = F.md5(F.col(text_col))
    per_content = docs.groupBy(
        F.col(source_col).alias("source"), h.alias("content_hash")
    ).agg(F.count(F.lit(1)).alias("copies"))
    return (
        per_content.groupBy("source")
        .agg(
            F.sum("copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            (F.sum("copies") - F.count(F.lit(1))).alias("n_exact_dups"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs"), 6
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Substring-level duplicate spans (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr
# dedup family, public paper). The suffix-array construction in the
# paper is single-machine; the distributed re-expression here is the
# standard k-gram-seed form: a token position is "duplicated" when
# some k-gram window covering it also occurs in ANOTHER document, and
# maximal runs of covered positions form the duplicated spans.
# ---------------------------------------------------------------------------

DUP_SPAN_K = 8           # seed gram width (tokens)
DUP_SPAN_MIN_TOKENS = 15 # report spans at least this many tokens long


def positional_gram_table(
    docs: DataFrame, text_col: str = "text", k: int = DUP_SPAN_K,
    portable: bool = False, scratch_tag: str | None = None,
) -> DataFrame:
    """(doc_id, pos, gram): ALL positional k-gram hashes, 1-based pos.

    Unlike :func:`hashed_shingle_df` this keeps positions and does NOT
    de-duplicate grams — span detection needs every occurrence. Same
    dual hash family and the same short-doc guard (docs with fewer
    than ``k`` tokens seed nothing).

    ``scratch_tag`` persists the per-doc token(-hash) array frame
    BEFORE the per-position gram projection. Without that barrier
    Catalyst inlines the token transform into every slice/element_at
    reference and the gram build re-evaluates the whole token array
    per position — O(tokens² · k) per doc, measured 37s vs ~1s for
    294k grams at sf0.1. Callers that loop (dup_spans) must own the
    tag's :func:`scratch.fresh` cycle.
    """
    if portable:
        base = docs.select("doc_id", tokens(F.col(text_col)).alias("tk"))
    else:
        base = docs.select(
            "doc_id",
            F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("tk"),
        )
    if scratch_tag is not None:
        base = scratch.keep(scratch_tag, base)

    def gram_at(i: Column) -> Column:
        if portable:
            return md5_lane(F.array_join(F.slice(F.col("tk"), i, k), " "))
        return F.xxhash64(*[F.element_at(F.col("tk"), i + j) for j in range(k)])

    grams = F.when(
        F.size("tk") >= k,
        F.transform(F.sequence(F.lit(1), F.size("tk") - (k - 1)), gram_at),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select(
        "doc_id", F.posexplode(grams).alias("pos0", "gram")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")


def dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DUP_SPAN_K,
    min_tokens: int = DUP_SPAN_MIN_TOKENS,
    portable: bool = False,
    scratch_tag: str = "dup_spans",
) -> DataFrame:
    """Maximal cross-document duplicated substrings per doc.

    (doc_id, span_start, span_end, span_tokens, n_seeds): token
    positions [span_start, span_end] (1-based, inclusive) are covered
    by k-gram seeds that occur in >= 2 DISTINCT documents; spans below
    ``min_tokens`` are dropped. Within-doc repetition alone never
    seeds a span (that signal is repetition_features).

    Scale shape — three shuffles, all well-keyed, nothing quadratic:
      1. seed sharing: groupBy(gram) with min/max(doc_id) — "occurs in
         >= 2 docs" is min != max, a map-side-combinable pair (never a
         COUNT DISTINCT);
      2. the seed semi-join back, keyed by gram (AQE skew-split covers
         boilerplate grams that occur in every doc);
      3. interval merge per doc: windows partitioned by doc_id — the
         classic running-max-end island merge, so overlapping seed
         windows (pos gap <= k) coalesce into ONE maximal span.
    At 100 TB each stage is linear in corpus grams; span state never
    leaves the doc partition.
    """
    # ``scratch_tag`` lets plan-distinct twins (portable vs fast hash
    # family, benched interleaved) hold separate cache slots instead of
    # evicting each other's generation on every alternation
    scratch.fresh(scratch_tag)
    # the gram table is consumed twice (sharing agg + the seed
    # semi-join back) — persist it, and barrier the token arrays
    # inside the build (see positional_gram_table)
    grams = scratch.keep(
        scratch_tag,
        positional_gram_table(docs, text_col, k, portable, scratch_tag=scratch_tag),
    )
    shared = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    seeds = grams.join(shared, "gram").select("doc_id", "pos")
    return _merge_seed_islands(seeds, k, min_tokens)


def _merge_seed_islands(
    seeds: DataFrame, k: int, min_tokens: int, carry_lo: bool = False
) -> DataFrame:
    """(doc_id, pos) duplicated seed positions → maximal covered spans.

    Classic running-max-end interval merge: a seed at pos covers tokens
    [pos, pos+k-1]; a new island starts when the seed's start exceeds
    the running max covered end + 1. Windows partition by doc_id —
    span state never leaves the doc's partition.

    ``carry_lo`` folds min(_glo) per island into a ``span_lo`` column
    (the smallest doc_id sharing any of the span's seed grams — the
    canonical-owner law :func:`dup_span_clean` cuts against)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = ["_glo"] if carry_lo else []
    flagged = seeds.select(
        "doc_id",
        "pos",
        *carry,
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1)
        .otherwise(0)
        .alias("_flag"),
    )
    islands = flagged.select(
        "doc_id",
        "pos",
        *carry,
        F.sum("_flag").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_island"),
    )
    extra = [F.min("_glo").alias("span_lo")] if carry_lo else []
    spans = (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_seeds"),
            *extra,
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_seeds",
            *(["span_lo"] if carry_lo else []),
        )
        .filter(F.col("span_tokens") >= min_tokens)
    )
    return spans.orderBy("doc_id", "span_start")


def dup_span_clean(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DUP_SPAN_K,
    min_tokens: int = DUP_SPAN_MIN_TOKENS,
    portable: bool = False,
) -> DataFrame:
    """The cleaning transform over :func:`dup_spans`: cut every
    qualifying duplicated span from every doc EXCEPT its canonical
    owner, keeping exactly one copy of duplicated text corpus-wide
    (Lee et al. 2021 §3's dedup step, distributed).

    Canonical-owner law: a span's owner is the smallest doc_id that
    shares any of its seed grams (``span_lo`` = min over the span's
    grams of the min doc_id containing that gram). The owner keeps its
    text; every other doc cuts the span's token range. Deterministic,
    order-free, and computable in the same single seed pass — no
    pairwise span alignment.

    Output: (doc_id, total_tokens, removed_tokens, clean_text) for
    EVERY doc (clean_text whitespace-normalized by the token join;
    fully-duplicated non-canonical docs come out empty — the rows a
    curation pass drops entirely).
    """
    scratch.fresh("dup_span_clean")
    grams = scratch.keep(
        "dup_span_clean",
        positional_gram_table(
            docs, text_col, k, portable, scratch_tag="dup_span_clean"
        ),
    )
    shared_lo = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("_glo"), F.max("doc_id").alias("_ghi"))
        .filter(F.col("_glo") != F.col("_ghi"))
        .select("gram", "_glo")
    )
    seeds = grams.join(shared_lo, "gram").select("doc_id", "pos", "_glo")
    spans = _merge_seed_islands(seeds, k, min_tokens, carry_lo=True)
    cuts = (
        spans.filter(F.col("span_lo") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("_cuts")
        )
    )
    toks = tokens(F.col(text_col))
    base = docs.select("doc_id", toks.alias("_tk")).join(cuts, "doc_id", "left")
    cut_arr = F.coalesce(
        F.col("_cuts"), F.array().cast("array<struct<s:int,e:int>>")
    )
    kept = F.filter(
        F.col("_tk"),
        lambda x, i: ~F.exists(
            cut_arr, lambda sp: (sp["s"] <= i + 1) & (i + 1 <= sp["e"])
        ),
    )
    return base.select(
        "doc_id",
        F.size("_tk").alias("total_tokens"),
        (F.size("_tk") - F.size(kept)).alias("removed_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    ).orderBy("doc_id")


def dup_span_report(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DUP_SPAN_K,
    min_tokens: int = DUP_SPAN_MIN_TOKENS,
    portable: bool = False,
) -> DataFrame:
    """Per-document duplicated-text accounting over :func:`dup_spans`:
    (doc_id, total_tokens, n_spans, dup_tokens, dup_frac). Docs with
    no qualifying span report zeros — the frame a cleaning pass would
    threshold on (e.g. drop docs with dup_frac > 0.8)."""
    spans = dup_spans(docs, text_col, k, min_tokens, portable)
    totals = docs.select(
        "doc_id", F.size(tokens(F.col(text_col))).alias("total_tokens")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "total_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("total_tokens")
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def dup_spans_incremental(
    corpus: DataFrame | None,
    delta: DataFrame,
    text_col: str = "text",
    k: int = DUP_SPAN_K,
    min_tokens: int = DUP_SPAN_MIN_TOKENS,
    portable: bool = False,
    corpus_grams: DataFrame | None = None,
    delta_grams: DataFrame | None = None,
) -> DataFrame:
    """Duplicated spans for DELTA docs only — the rolling-ingest shape
    (yesterday's corpus is already span-cleaned; today's batch must be
    checked against it and against itself, without re-scanning the
    corpus). A delta position seeds when its k-gram occurs anywhere in
    the corpus or in a DIFFERENT delta doc. Requires corpus and delta
    doc_ids to be disjoint.

    Scale shape: pass ``corpus_grams`` — exactly the frame
    :func:`positional_gram_table` produces, persisted as a write-time
    artifact (at scale: stored partitioned/bucketed by gram hash) —
    and the per-batch cost is O(|delta grams| + matched grams): the
    delta drives a distinct-gram semi-probe of the index, never a
    corpus text re-scan. Without it, the index is derived from
    ``corpus`` in-session (fine for one-shot use).

    Law (pinned by test_dup_spans_incremental_matches_batch):
    ``dup_spans(corpus ∪ delta) ⨝ delta_ids = dup_spans_incremental(...)``
    for the same hash family — corpus-side spans newly created by the
    delta are the corpus docs' own re-clean concern, exactly as in
    :func:`minhash_incremental_pairs`.
    """
    scratch.fresh("dup_spans_incremental")
    if corpus_grams is None:
        if corpus is None:
            raise ValueError("pass corpus or corpus_grams")
        corpus_grams = scratch.keep(
            "dup_spans_incremental",
            positional_gram_table(
                corpus, text_col, k, portable, scratch_tag="dup_spans_incremental"
            ),
        )
    if delta_grams is not None:
        # caller-supplied (already barriered/persisted) batch gram
        # frame — the span_stream path, which also LANDS the same
        # frame and must not pay the gram build twice
        dg = delta_grams
    else:
        dg = scratch.keep(
            "dup_spans_incremental",
            positional_gram_table(
                delta, text_col, k, portable, scratch_tag="dup_spans_incremental"
            ),
        )
    # delta-internal sharing: gram seen in >= 2 distinct delta docs
    delta_shared = (
        dg.groupBy("gram")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    # corpus sharing: the delta's distinct grams probe the index
    cg = corpus_grams
    if "gram_bucket" in cg.columns:
        # bucket-pruned probe (span_stream lands each zone partitioned
        # by gram_bucket = pmod(gram, SPAN_GRAM_BUCKETS)): the delta's
        # grams hash into a BOUNDED set of buckets (≤ the constant
        # SPAN_GRAM_BUCKETS), so collecting that set is bounded — the
        # sources/upsert.py precedent — and pushing it into the index
        # scan as a partition filter reads only matching bucket dirs
        # instead of every zone's full gram table
        from hadoop_ozone_spark.streaming import span_stream as _ss

        bkts = [
            r[0]
            for r in dg.select(
                F.pmod(F.col("gram"), F.lit(_ss.SPAN_GRAM_BUCKETS))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        ]
        cg = cg.filter(F.col("gram_bucket").isin(bkts))
    corpus_hit = (
        dg.select("gram")
        .distinct()
        .join(cg.select("gram"), "gram")
        .distinct()
    )
    shared = delta_shared.unionByName(corpus_hit).distinct()
    seeds = dg.join(shared, "gram").select("doc_id", "pos")
    return _merge_seed_islands(seeds, k, min_tokens)


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = DUP_SPAN_K,
    min_tokens: int = 10,
    portable: bool = False,
) -> DataFrame:
    """Span-level benchmark decontamination: the exact token ranges of
    training documents that reproduce eval text (the ExactSubstr lens
    applied to the GPT-3/PaLM leak check — :func:`text.decontaminate`
    flags whole documents by shared shingle COUNT; this pins down the
    leaked substrings themselves, so a cleaning pass can cut the span
    instead of dropping the doc).

    A corpus position seeds when its k-gram occurs anywhere in the
    benchmark; corpus-internal sharing is deliberately NOT a seed
    (that is :func:`dup_spans`' concern).  Islands merge and qualify
    exactly like dup_spans (default min_tokens=10 — an eval prefix of
    10 tokens must qualify, so the floor is the leak unit, not the
    15-token dedup default).

    Scale shape: the benchmark side is an eval set — its distinct-gram
    frame BROADCASTS; the corpus gram stream joins map-side and never
    shuffles on anything but the per-doc island window key. One corpus
    text pass (the positional_gram_table barrier).
    """
    scratch.fresh("contamination_spans")
    dg = positional_gram_table(
        docs, text_col, k, portable, scratch_tag="contamination_spans"
    )
    bg = (
        positional_gram_table(
            benchmark, text_col, k, portable,
            scratch_tag="contamination_spans",
        )
        .select("gram")
        .distinct()
    )
    seeds = dg.join(F.broadcast(bg), "gram").select("doc_id", "pos")
    return _merge_seed_islands(seeds, k, min_tokens)


# ---------------------------------------------------------------------------
# Content-defined chunking (LBFS lineage: Muthitacharoen et al. 2001
# §3.1; FastCDC, Xia et al. 2016 — token-granular variant). A token
# ENDS a chunk iff its portable hash ≡ 0 (mod boundary_mod), so chunk
# boundaries depend only on local content: an insertion shifts
# positions but the boundary stream re-synchronizes at the next
# boundary token, unlike fixed-width windows where one shifted token
# changes every downstream chunk (the weakness of chunk_dedup's
# aligned windows, text.py chunk_dedup).
# ---------------------------------------------------------------------------

def cdc_chunk_table(
    docs: DataFrame, text_col: str = "text", boundary_mod: int = 8
) -> DataFrame:
    """Per (doc_id, chunk_idx): the chunk text and its md5.

    Scale shape: one posexplode pass; the running boundary count is a
    window partitioned by doc_id (unskewed — docs are the unit), and
    the chunk regroup shares that partitioning (grouping keys extend
    the window key, no second shuffle of the token stream).
    """
    from pyspark.sql import Window

    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    exploded = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    boundary = (md5_lane(F.col("tok")) % boundary_mod == 0).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = exploded.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum(boundary).over(w), F.lit(0)).alias("chunk_idx"),
    )
    return (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("chunk_text")
        )
        .select(
            "doc_id", "chunk_idx", "chunk_text", F.md5("chunk_text").alias("chunk_hash")
        )
    )


def cdc_dedup_report(
    docs: DataFrame,
    text_col: str = "text",
    boundary_mod: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc CDC dedup report: how many of the doc's content-defined
    chunks also appear (by hash) in ≥ ``min_docs`` distinct docs.

    The near-duplicate with appended tokens shares every chunk except
    the final one — the re-synchronization property fixed-width
    windows lack.
    """
    # three consumers (per-doc counts, shared set, flagged counts) —
    # keep one materialized chunk table instead of three token passes;
    # fresh() resets the slot cursor so changed inputs RELEASE the
    # previous generation (and identical plans reuse it, including
    # across cdc_source_matrix)
    scratch.fresh("cdc_chunks")
    ct = scratch.keep("cdc_chunks", cdc_chunk_table(docs, text_col, boundary_mod))
    shared = (
        ct.select("chunk_hash", "doc_id")
        .distinct()
        .groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_hash")
    )
    flagged = ct.join(F.broadcast(shared), "chunk_hash", "left_semi").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n_shared_chunks"))
    per_doc = ct.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return (
        per_doc.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("n_shared_chunks"), F.lit(0)).alias("n_shared_chunks"),
            (
                F.coalesce(F.col("n_shared_chunks"), F.lit(0))
                / F.col("n_chunks")
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


def cdc_source_matrix(
    docs: DataFrame,
    text_col: str = "text",
    boundary_mod: int = 8,
) -> DataFrame:
    """Cross-source shared-chunk matrix: for every (source_a ≤
    source_b) pair, how many distinct CDC chunk hashes occur in both —
    the mirror-/syndication-detection rollup of corpus curation.

    Scale shape: the self-join runs on the (chunk_hash, source)
    DISTINCT frame, which is bounded by |distinct chunks| × |sources|,
    not the corpus; the pair explosion per chunk is |sources|² at
    worst (sources are a small dimension).
    """
    scratch.fresh("cdc_chunks")
    occ = (
        scratch.keep("cdc_chunks", cdc_chunk_table(docs, text_col, boundary_mod))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("chunk_hash", "source")
        .distinct()
    )
    a = occ.select("chunk_hash", F.col("source").alias("source_a"))
    b = occ.select("chunk_hash", F.col("source").alias("source_b"))
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("source_a") <= F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
        .orderBy("source_a", "source_b")
    )


def gram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DUP_SPAN_K,
    portable: bool = False,
    report_mod: int = 1,
) -> DataFrame:
    """Per-doc k-gram novelty: the fraction (ppm) of a doc's DISTINCT
    k-grams whose FIRST appearance (lowest doc_id) is this doc — the
    ingest-order memorization-risk view (a doc whose grams all appeared
    earlier adds no new text; the RETSim/dedup literature's
    "duplication adds no information" lens applied per doc).

    Laws: gram owner = min(doc_id) over the corpus gram table; novelty
    = owned distinct grams ·1e6 DIV distinct grams; docs shorter than
    k tokens emit no grams and are absent. ``report_mod`` subsamples
    the REPORTED docs (statistics stay corpus-wide).

    Scale shape: one positional-gram pass collapsed to distinct
    (doc_id, gram), one gram-keyed groupBy for the owner (map-side
    combinable min), one broadcast-free join back keyed by gram (the
    dup_spans seed-share family — AQE covers hot grams), then a per-doc
    fold."""
    scratch.fresh("gram_novelty")
    grams = scratch.keep(
        "gram_novelty",
        positional_gram_table(docs, text_col, k, portable, scratch_tag="gram_novelty")
        .select("doc_id", "gram")
        .distinct(),
    )
    owner = grams.groupBy("gram").agg(F.min("doc_id").alias("owner"))
    return (
        grams.join(owner, "gram")
        .filter(F.col("doc_id") % report_mod == 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("owner") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("n_novel * 1000000 DIV n_grams").alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )
