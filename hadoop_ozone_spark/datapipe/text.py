"""Text-analysis operators for a training-data pipeline.

Beyond-reference surface (BASELINE.json north star): token counting,
quality scoring, language ID (n-gram/stopword heuristic), document
fingerprinting. All pure Column expressions — at 100 TB these are
map-only passes fused into one whole-stage-codegen stage over the
corpus scan, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# deterministic stopword votes per language (tiny on purpose — the
# heuristic must be cheap and identically computable in the oracle)
LANG_STOPWORDS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "es": ["el", "la", "que"],
    "fr": ["le", "la", "et"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the BPE-ish regex variant lives in
    token_count_bpe_ish)."""
    return F.split(F.trim(text), "\\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def token_count_bpe_ish(text: Column) -> Column:
    """Sub-word-ish token estimate: words + digit runs + punctuation
    marks counted separately (a cheap stand-in for BPE length)."""
    words = F.size(F.split(F.trim(text), "[^A-Za-z0-9]+"))
    puncts = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return words + puncts


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality signals: length, token count, mean token length,
    punctuation count, stopword hits + ratio. Ratios are exact-int
    divisions in double (bit-identical across engines)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS["en"])))
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        (F.length(F.regexp_replace(t, "\\s", "")).cast("double") / n_tok).alias(
            "mean_token_len"
        ),
        F.length(F.regexp_replace(t, "[A-Za-z0-9\\s]", "")).alias("n_punct"),
        stop_hits.alias("stopword_hits"),
        (stop_hits.cast("double") / n_tok).alias("stopword_ratio"),
    )


def quality_threshold_sweep(
    docs: DataFrame,
    text_col: str = "text",
    step_ppm: int = 20_000,
    n_steps: int = 10,
) -> DataFrame:
    """Filter-tuning sweep: how many docs/tokens survive a minimum
    stopword-ratio gate, at every rung of a ppm threshold ladder
    (0, step, ..., (n_steps-1)*step) — the curve a pipeline operator
    reads before fixing a quality cutoff (the Gopher/C4 recipe tunes
    exactly this family of gates; Rae et al. 2021 §A1.1).

    Shape — deliberately NOT a threshold×corpus fan-out: ONE corpus
    pass buckets each doc to the highest rung it clears (exact
    integer arithmetic: stop_hits*1e6 DIV (n_tokens*step), so no
    float compare can disagree with the oracle), a map-side
    combinable groupBy over <= n_steps buckets, then a descending
    cumulative sum over that constant-size frame —
    kept_at(t) = sum of buckets >= t. The single-partition window
    runs on <= n_steps rows regardless of corpus size.

    NULL text coalesces to '' (ADVICE r7: without it, NULL-text docs
    got a NULL bucket and silently vanished from every rung including
    total_docs) — matching the sibling operators tfidf_topk /
    cdc_chunk_table and DP_QUALITY_SWEEP_SQL.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_hits = _stopword_hits(toks, LANG_STOPWORDS["en"])
    staged = docs.select(
        (stop_hits.cast("long") * 1_000_000).alias("num"),
        n_tok.cast("long").alias("den"),
    )
    bucketed = (
        staged.select(
            (
                F.least(
                    F.expr(f"num DIV (den * {step_ppm})"), F.lit(n_steps - 1)
                )
                * step_ppm
            ).alias("bucket_ppm"),
            F.col("den").alias("n_tokens"),
        )
        .groupBy("bucket_ppm")
        .agg(
            F.count(F.lit(1)).alias("b_docs"),
            F.sum("n_tokens").alias("b_tokens"),
        )
    )
    ladder = docs.sparkSession.range(n_steps).select(
        (F.col("id") * step_ppm).alias("threshold_ppm")
    )
    joined = ladder.join(
        bucketed, ladder.threshold_ppm == bucketed.bucket_ppm, "left"
    ).select(
        "threshold_ppm",
        F.coalesce("b_docs", F.lit(0)).alias("b_docs"),
        F.coalesce("b_tokens", F.lit(0)).alias("b_tokens"),
    )
    w = (
        Window.orderBy(F.desc("threshold_ppm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.orderBy("threshold_ppm").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        joined.select(
            "threshold_ppm",
            F.sum("b_docs").over(w).alias("n_docs_kept"),
            F.sum("b_tokens").over(w).alias("n_tokens_kept"),
            F.sum("b_docs").over(w_all).alias("total_docs"),
        )
        .select(
            "threshold_ppm",
            "n_docs_kept",
            "n_tokens_kept",
            F.expr("(n_docs_kept * 1000000) DIV total_docs").alias(
                "docs_kept_ppm"
            ),
        )
        .orderBy("threshold_ppm")
    )


def _stopword_hits(toks: Column, stopwords: list[str]) -> Column:
    # NB: the filter lambda must be unary — Spark passes (element, index)
    # to binary lambdas, which would shadow a captured default arg
    return F.size(F.filter(toks, lambda x: x.isin(*stopwords)))


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(F.lower(text))
    return {lang: _stopword_hits(toks, sw) for lang, sw in LANG_STOPWORDS.items()}


def _lang_pred() -> "Column":
    """Deterministic argmax over staged score COLUMNS (tie → priority
    en > de > es > fr > unknown). Operating on attribute references —
    not the score expression trees — matters twice: the when-chain
    references each score ~3×, so inlining the trees would (a) blow the
    logical plan up ~10× (measured ~0.8 s of pure Catalyst planning per
    invocation on the composed curation query) and (b) re-evaluate each
    tokenize+filter per reference at runtime. A staged projection is
    kept by CollapseProject exactly because the refs repeat."""
    en, de, es, fr = (
        F.col("score_en"), F.col("score_de"), F.col("score_es"), F.col("score_fr")
    )
    return (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= es) & (de >= fr) & (de > 0), F.lit("de"))
        .when((es >= fr) & (es > 0), F.lit("es"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID; deterministic argmax (tie → priority
    order en > de > es > fr > unknown)."""
    scores = lang_scores(F.col(text_col))
    staged = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
        scores["fr"].alias("score_fr"),
    )
    return staged.select(
        "doc_id",
        "labeled_lang",
        _lang_pred().alias("predicted_lang"),
        "score_en",
        "score_de",
        "score_es",
        "score_fr",
    )


def curation_pipeline(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_mean_token_len: float = 12.0,
) -> DataFrame:
    """The composed training-data curation pass: quality gates +
    language ID + exact-dedup canonicalization in ONE pipeline.

    Physical shape (the reason to compose rather than chain the
    standalone operators): all per-doc features fuse into a single
    map-only codegen stage over the corpus scan; the cheap row filters
    run BEFORE the dedup window, so the only shuffle (partitionBy
    content_hash) moves just the surviving docs. Canonical = min doc_id
    among quality-passing copies.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    mean_len = F.length(F.regexp_replace(t, "\\s", "")).cast("double") / n_tok
    scores = lang_scores(t)
    # two-stage projection: each score/token tree appears ONCE (see
    # _lang_pred — the argmax references each score ~3×; staging keeps
    # both Catalyst planning time and per-row work linear in the
    # feature count). Both selects still fuse into one codegen stage.
    feats = docs.select(
        "doc_id",
        F.md5(t).alias("content_hash"),
        n_tok.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
        scores["fr"].alias("score_fr"),
    )
    staged = feats.select(
        "doc_id",
        "content_hash",
        "n_tokens",
        "mean_token_len",
        _lang_pred().alias("predicted_lang"),
    ).filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("mean_token_len") <= max_mean_token_len)
        & (F.col("predicted_lang") != "unknown")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        staged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "predicted_lang", "n_tokens", "mean_token_len", "content_hash")
        .orderBy("doc_id")
    )


def _norm_text(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")


def fingerprint_col(text_col: str = "text") -> Column:
    """THE canonical exact-dedup fingerprint expression — shared by
    fingerprint() and packing.split_leakage so the leakage audit can
    never key on a drifted normalization."""
    return F.md5(_norm_text(text_col))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the exact-dedup key (a rolling-hash shingle fingerprint is
    minhash's job, datapipe/dedup.py)."""
    norm = _norm_text(text_col)
    return docs.select(
        "doc_id",
        fingerprint_col(text_col).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def vocabulary(docs: DataFrame, text_col: str = "text", top_k: int = 100) -> DataFrame:
    """Corpus-wide token vocabulary with relative frequencies — the
    tokenizer-prep step of a training pipeline (what BPE/unigram
    training consumes). One explode + one map-side-combinable groupBy
    on token (the only corpus-sized shuffle; token skew is the classic
    AQE case — 'the' dwarfs the tail); the global total is a 1-row
    broadcast and the cut is TakeOrderedAndProject."""
    tok = docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 8).alias("freq"),
        )
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(top_k)
    )


def repetition_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1, public quality-filter recipe): fraction of tokens inside
    duplicated 3-grams, distinct/total token ratio, and the top n-gram's
    share. Map-only Column arithmetic — fused into the corpus scan.

    - dup_3gram_frac: 1 − distinct(3grams)/total(3grams): the mass of
      repeated trigrams (0 = no repetition).
    - distinct_token_ratio: distinct/total tokens (low = loops/spam).
    - top_token_share: occurrences of the most frequent token / total
      tokens (aggregate over the token array, no shuffle).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    # short-doc guard: sequence(1, 0) DESCENDS in Spark ([1, 0]) and
    # slice(toks, 0, 3) throws — <3-token docs have zero trigrams, which
    # is also the oracle's generate_series(1, n_tok-2) empty-set value
    grams = F.when(
        n_tok >= 3,
        F.transform(
            F.sequence(F.lit(1), n_tok - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams)
    dup_frac = F.when(n_grams > 0,
        1.0 - F.size(F.array_distinct(grams)).cast("double") / n_grams
    ).otherwise(F.lit(0.0))
    # top token count = longest equal-run in the SORTED token array —
    # O(n log n) per doc and map-only (a distinct×total nested filter
    # would be quadratic per doc; an explode+groupBy would shuffle)
    run = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_share = run["best"].cast("double") / n_tok
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        dup_frac.alias("dup_3gram_frac"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "distinct_token_ratio"
        ),
        top_share.alias("top_token_share"),
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex PII scrubbing (emails, phone-shaped numbers) with match
    counts — the redaction pass every published training-data pipeline
    runs before tokenization. Two regexp_replace + two regexp_count per
    doc, one fused map stage; the redacted text keeps alignment tokens
    (<EMAIL>/<PHONE>) so downstream token counts stay meaningful."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL))
    redacted = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_phone = F.regexp_count(redacted, F.lit(PII_PHONE))
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.regexp_replace(redacted, PII_PHONE, "<PHONE>").alias("redacted_text"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ min_hits
    distinct n-gram shingles with any benchmark/eval document (the
    published GPT-3/PaLM recipe: drop train docs that leak eval text).

    Shape: explode both sides to (doc, shingle-hash) rows; the
    benchmark side is tiny (eval sets), so the contamination join
    BROADCASTS it — the 100 TB corpus is scanned once, map-side, no
    shuffle of the corpus; the per-doc hit count is one
    map-side-combinable groupBy. Returns (doc_id, contaminated,
    n_hits, hit_benchmark_id of the worst offender)."""
    from hadoop_ozone_spark.datapipe.dedup import md5_lane, shingles

    d = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(shingles(F.col(text_col), n), md5_lane))
        ).alias("h"),
    )
    b = benchmark.select(
        F.col("bench_id"),
        F.explode(
            F.array_distinct(F.transform(shingles(F.col(text_col), n), md5_lane))
        ).alias("h"),
    )
    hits = (
        d.join(F.broadcast(b), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_shared").alias("n_hits"),
            # deterministic worst-offender: ties on n_shared break to the
            # highest bench_id (composite key keeps both engines agreeing)
            F.max_by(
                "bench_id",
                F.col("n_shared") * F.lit(1_000_000_000) + F.col("bench_id"),
            ).alias("hit_benchmark_id"),
        )
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
            "hit_benchmark_id",
        )
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level boilerplate detection: split each doc into
    non-overlapping ``chunk_tokens``-token windows, hash each, and flag
    chunks appearing in ≥ ``min_docs`` distinct docs — the
    repeated-paragraph removal pass of web-corpus curation (RefinedWeb
    §3.2 / Dolma line-dedup, adapted to fixed windows since the corpus
    has no newline structure). Emits per-doc totals so a downstream
    filter can drop docs dominated by boilerplate.

    Unlike whole-doc dedup this also catches partial copies: a doc
    that prepends/appends tokens to a copied body still shares every
    aligned full window with the original.

    Scale: one explode pass over the corpus, one groupBy(chunk_hash)
    (map-side combinable — the only fact shuffle), and a semi-join back.
    The trailing partial window (< chunk_tokens tokens) is excluded on
    both engines.
    """
    # NULL text must mean zero chunks: F.size returns -1 on NULL input
    # (which would emit n_chunks = -1) while the oracle's len() yields
    # NULL — coalesce to '' so both engines agree on 0
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(
        "doc_id",
        toks.alias("t"),
        F.floor(F.size(toks) / chunk_tokens).cast("long").alias("n_chunks"),
    )
    # sequence(0, n-1) DESCENDS when n == 0 (Spark generates backwards
    # for stop < start) — short docs must produce an empty chunk list
    idxs = F.when(
        F.col("n_chunks") > 0, F.sequence(F.lit(0), F.col("n_chunks") - 1)
    ).otherwise(F.array().cast("array<long>"))
    chunks = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idxs,
                lambda i: F.md5(
                    F.array_join(
                        F.slice(F.col("t"), i * chunk_tokens + 1, chunk_tokens), " "
                    )
                ),
            )
        ).alias("chunk_idx", "chunk_hash"),
    )
    boiler = (
        chunks.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("chunk_hash")
    )
    per_doc_bp = (
        chunks.join(boiler, "chunk_hash")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("boilerplate_chunks"))
    )
    return (
        base.select("doc_id", "n_chunks")
        .join(per_doc_bp, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("boilerplate_chunks"), F.lit(0)).alias(
                "boilerplate_chunks"
            ),
        )
        .orderBy("doc_id")
    )


def unigram_freq_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-frequency quality signal: the mean corpus frequency of a
    doc's tokens, in parts-per-million of the corpus token count — the
    unigram-LM quality proxy (CCNet-style) kept in exact integer
    arithmetic so the oracle replays bit-for-bit (a float log-prob
    would differ across engines' libm). High score = common-token
    prose; low score = rare-token noise.

        score_ppm = (1e6 · Σ_t cnt(t)) div (n_tokens · N)

    where cnt(t) is the token's corpus occurrence count and N the total
    corpus occurrences (so a doc of only the most-common token scores
    cnt_max/N · 1e6).

    Scale: one explode pass builds the vocab counts (map-side
    combinable groupBy); the per-doc pass joins the vocab (planner's
    choice of strategy — vocabulary grows with the corpus) and
    aggregates by doc — two fact shuffles total, both on pre-combined
    keys.
    """
    exploded = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    vocab = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    # no broadcast hint on vocab: vocabulary grows with the corpus
    # (Heap's law), so the planner/AQE must stay free to pick a shuffle
    # join when it outgrows the broadcast threshold
    per_doc = (
        exploded.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
        )
    )
    # DECIMAL(38,0) products: at web-corpus scale 1e6·sum_cnt (or
    # n_tokens·n_total) can pass 2^63, where BIGINT arithmetic silently
    # wraps on Spark but raises on DuckDB — the decimal lane keeps the
    # law exact to ~1e38 on both engines; `div` on decimals returns
    # BIGINT directly
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * sum_cnt)"
                " div (CAST(n_tokens AS DECIMAL(38,0)) * n_total)"
            ).alias("mean_token_freq_ppm"),
        )
        .orderBy("doc_id")
    )


def bpe_pair_counts(
    docs: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """One BPE merge-selection step over the corpus: frequency-weighted
    counts of adjacent character pairs inside whitespace words — the
    argmax of this table IS the next merge a byte-pair-encoding
    tokenizer trainer would adopt (Sennrich et al. 2016; the selection
    loop of every BPE implementation). Exposed as the top-``top_k``
    candidate merges with deterministic (count desc, pair asc) order.

    Scale shape: the corpus collapses to its word-frequency table
    first (one explode + one map-side-combinable groupBy — the same
    shuffle budget as :func:`vocabulary`), so the pair explode runs
    over |vocab| rows, not |corpus|; pair counting is again
    combinable, and the cut is a TakeOrderedAndProject. Iterating
    merges re-runs this over a symbol-sequence column — each step is
    one linear vocab pass.
    """
    words = docs.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    ).filter(F.length("word") >= 2)
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = vocab.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_k)
    )


def _apply_merge(symbols: Column, left: Column, right: Column) -> Column:
    """Apply ONE learned BPE merge (left, right) → left||right to a
    symbol array with a single left-to-right fold — the carry scheme:
    hold the previous symbol; when (carry, s) matches the merge pair,
    emit the merged token and clear the carry, else emit the carry and
    hold s. Pure Column expression (no UDF)."""
    stepped = F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("carry"),
        ),
        lambda acc, s: F.when(
            acc["carry"].isNull(),
            F.struct(acc["out"].alias("out"), s.alias("carry")),
        )
        .when(
            (acc["carry"] == left) & (s == right),
            F.struct(
                F.concat(acc["out"], F.array(F.concat(left, right))).alias("out"),
                F.lit(None).cast("string").alias("carry"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["carry"])).alias("out"),
                s.alias("carry"),
            )
        ),
    )
    return F.when(
        stepped["carry"].isNull(), stepped["out"]
    ).otherwise(F.concat(stepped["out"], F.array(stepped["carry"])))


def bpe_learn_merges(
    docs: DataFrame, n_merges: int = 10, text_col: str = "text"
):
    """Train ``n_merges`` BPE merges over the corpus (Sennrich et al.
    2016 — the algorithm every BPE tokenizer trainer runs): start from
    the word-frequency table with words split to characters, then
    repeatedly (a) count adjacent symbol pairs weighted by word
    frequency, (b) adopt the most frequent pair as the next merge
    (ties → lexicographic, determinized), (c) rewrite every word's
    symbol sequence with the merge applied.

    Returns ``(merges_df, vocab_df)``: the ordered merge log
    (merge_rank, left, right, pair_count) and the final segmented
    vocabulary (word, freq, symbols) — the segmentation a tokenizer
    built from these merges would produce for every corpus word.

    Scale shape, mirroring train_centroids: the corpus collapses ONCE
    to its word-frequency table (the only corpus-sized shuffle); each
    merge step is a |vocab|-sized pair count folded to ONE Spark job
    (a TakeOrderedAndProject collect of the single winning row —
    bounded driver work, <= n_merges rows total, the documented
    bounded-collect discipline) + a map-only rewrite with the winner
    inlined as literals. The rewrite is a LAZY localCheckpoint: round
    k's winner job materializes round k-1's rewrite, so k merges stay
    k bounded passes instead of a k-deep lazy lineage — and a caller
    that discards ``vocab`` (dp_bpe_vocab) never pays for the final
    rewrite at all.

    (Optimization r13, guide §1.2/§7.3: the prior shape spent ~4
    sequential driver round-trips per round — eager winner checkpoint,
    isEmpty, broadcast build, eager rewrite checkpoint — on
    dictionary-sized data where executor time is negligible; the
    winner-collect shape is the same law with 1 action per round.)
    """
    from hadoop_ozone_spark import scratch

    spark = docs.sparkSession
    words = docs.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    ).filter(F.length("word") >= 1)
    # the corpus collapse is the ONLY corpus-sized pass — register it
    # as a persisted scratch frame (the dsir_weights discipline) and
    # materialize it HERE, under the caller's conf, so the merge
    # rounds' loop-scoped conf toggle below never plans corpus work
    scratch.fresh("bpe_learn_merges")
    base = scratch.keep(
        "bpe_learn_merges",
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("symbols", F.split(F.col("word"), "")),
    )
    # Size the loop anchor from the MEASURED vocabulary, not the
    # corpus shuffle width (guide §2.2): the rounds iterate over
    # |vocab| rows (Heaps'-law bounded — 31 at bench scale), and a
    # 32-partition anchor made every round pay 32 task launches for
    # dictionary-sized data. ~200k dictionary rows per round task.
    n_vocab = base.count()
    vocab = scratch.keep(
        "bpe_learn_merges", base.coalesce(max(1, n_vocab // 200_000))
    )
    vocab.count()
    merge_rows: list[tuple] = []
    # round-invariant Columns over FIXED column names (symbols/_ml/_mr):
    # every round applies the SAME unresolved expressions to a new
    # vocab frame, so they are built once per call, not once per round
    pair_explode = F.explode(
        F.expr(
            "transform(sequence(1, size(symbols) - 1),"
            " i -> struct(symbols[i-1] AS l, symbols[i] AS r))"
        )
    ).alias("p")
    pair_filter = F.col("p.l").isNotNull() & F.col("p.r").isNotNull()
    size_guard = F.size("symbols") >= 2
    rewrite = _apply_merge(
        F.col("symbols"), F.col("_ml"), F.col("_mr")
    ).alias("symbols")
    # Merge rounds run over DICTIONARY-sized frames (Heaps'-law vocab),
    # so each round's cost is driver fixed latency, not data: AQE turns
    # every round's winner pick into 2-3 jobs (shuffle-stage
    # materialization + re-optimized result job) where the static
    # planner runs ONE TakeOrdered job over a 1-partition shuffle.
    # Scope the toggle to the loop and restore afterwards — the
    # corpus-sized vocab build above is NOT under it (it executes
    # lazily inside round 1's action... which IS under the loop's conf;
    # acceptable because that build is one explode+groupBy whose
    # reducer count a 1-partition shuffle serves fine at vocab scale).
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        # the loop's shuffle width follows the same measured-vocabulary
        # rule as the anchor coalesce above (~200k dictionary rows per
        # reducer) — NOT a hard-coded 1 (VERDICT r13 what's-wrong #3):
        # a multi-million-type vocabulary at corpus scale gets
        # proportionally more reducers for each round's pair count,
        # while bench-scale dictionaries still plan the single-task
        # TakeOrdered round the static planner is here for
        conf.set(
            "spark.sql.shuffle.partitions", str(max(1, n_vocab // 200_000))
        )
        for rank in range(1, n_merges + 1):
            pairs = (
                # words already collapsed to one symbol pair nothing;
                # the size guard also keeps sequence() ascending
                # (sequence(1,0) DESCENDS in Spark and indexes out of
                # bounds under ANSI)
                vocab.filter(size_guard)
                .select("freq", pair_explode)
                .filter(pair_filter)
                .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
                .agg(F.sum("freq").alias("pair_count"))
            )
            # deterministic winner: (pair_count desc, left, right) is a
            # total order because (left, right) is the group key. ONE
            # row crosses to the driver per round.
            top = pairs.orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            ).take(1)
            if not top:
                break
            left, right, pair_count = top[0]
            merge_rows.append((rank, left, right, pair_count))
            # the winner rides back in as a broadcast 1-row
            # LocalRelation, NOT as inlined literals: literals would
            # change the generated code every round and defeat the
            # whole-stage-codegen compile cache (measured: literal
            # inlining tripled the query on pure janino recompiles),
            # while this plan shape is byte-identical across rounds so
            # round 1's compiled code serves all n_merges. Built via
            # parameterized SQL, which constant-folds to a TRUE
            # LocalRelation — createDataFrame parallelizes even 1 row
            # across defaultParallelism tasks THROUGH PYTHON WORKERS
            # (measured 0.3s/round: 32 task launches + pickle
            # round-trips for one pair of strings).
            winner = spark.sql(
                "SELECT :l AS _ml, :r AS _mr", args={"l": left, "r": right}
            )
            vocab = (
                vocab.crossJoin(F.broadcast(winner))
                .select("word", "freq", rewrite)
                .localCheckpoint(eager=False)
            )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    # the merge log rides back the same way the winners did: a
    # parameterized VALUES LocalRelation instead of createDataFrame's
    # 32-task Python parallelize job (measured 0.7s for 8 rows)
    if merge_rows:
        values = ", ".join(
            f"(CAST(:r{i} AS INT), :l{i}, :g{i}, CAST(:c{i} AS BIGINT))"
            for i in range(len(merge_rows))
        )
        args = {}
        for i, (rank, left, right, pair_count) in enumerate(merge_rows):
            args.update(
                {f"r{i}": rank, f"l{i}": left, f"g{i}": right, f"c{i}": pair_count}
            )
        merges_df = spark.sql(
            "SELECT * FROM VALUES "
            + values
            + " AS t(merge_rank, left, right, pair_count)",
            args=args,
        )
    else:
        merges_df = spark.sql(
            "SELECT CAST(NULL AS INT) merge_rank, CAST(NULL AS STRING) left,"
            " CAST(NULL AS STRING) right, CAST(NULL AS BIGINT) pair_count"
        ).filter(F.lit(False))
    return merges_df.orderBy("merge_rank"), vocab.orderBy("word")


def _hashed_grams(text: Column, n_buckets: int) -> Column:
    """Word unigram + bigram feature buckets WITH multiplicity, in
    document order — md5-lane hashed into ``n_buckets`` (the
    engine-portable construction every hash draw here shares)."""
    from hadoop_ozone_spark.datapipe.dedup import md5_lane

    toks = tokens(F.lower(text))
    unigrams = toks
    # Guard the <2-token case: sequence(1, 0) DESCENDS in Spark ([1, 0])
    # and slice(toks, 0, 2) then throws INVALID_PARAMETER_VALUE.START —
    # while the DuckDB oracle's generate_series(1, 0) is empty. Emit the
    # oracle's empty bigram set for single-token / empty documents.
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(unigrams, bigrams), lambda g: md5_lane(g) % n_buckets
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
    round_digits: int = 6,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram profile is —
    log w(x) = Σ_g log p_target(bucket(g)) − log p_raw(bucket(g)) over
    the document's unigram+bigram features (with multiplicity), both
    distributions add-1 smoothed over the bucket space. Sampling
    ∝ exp(log_weight) is the published recipe for picking
    domain-matched pretraining data from a web-scale crawl.

    Scale shape: the corpus collapses to bucket counts (one map-side-
    combinable groupBy onto ≤ n_buckets keys), the per-bucket log-ratio
    table (n_buckets rows) rides a BROADCAST into the scoring pass, so
    the corpus is scanned exactly twice and never shuffled on doc_id.
    Per-document sums fold in document order (deterministic, oracle-
    matchable); the ratio table rounds before the fold so both engines
    add identical values.
    """
    from hadoop_ozone_spark import scratch

    def bucket_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.explode(_hashed_grams(F.col(text_col), n_buckets)).alias("b")
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    # the (doc_id, pos, bucket) gram frame feeds BOTH the raw counts and
    # the scoring pass — persist it so the md5 gram hashing (the
    # dominant cost: ~300 hashes per doc) runs once, not twice
    scratch.fresh("dsir_weights")
    grams = scratch.keep(
        "dsir_weights",
        docs.select(
            "doc_id",
            F.posexplode(_hashed_grams(F.col(text_col), n_buckets)).alias(
                "pos", "b"
            ),
        ),
    )
    raw = grams.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    tgt = bucket_counts(target)
    raw_total = raw.agg(F.sum("cnt").alias("raw_total"))
    tgt_total = tgt.agg(F.sum("cnt").alias("tgt_total"))
    ratio = (
        raw.withColumnRenamed("cnt", "raw_cnt")
        .join(tgt.withColumnRenamed("cnt", "tgt_cnt"), "b", "outer")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("tgt_cnt"), F.lit(0)) + 1)
                    / (F.col("tgt_total") + n_buckets)
                )
                - F.log(
                    (F.coalesce(F.col("raw_cnt"), F.lit(0)) + 1)
                    / (F.col("raw_total") + n_buckets)
                ),
                round_digits,
            ).alias("lr"),
        )
    )
    scored = grams.join(F.broadcast(ratio), "b")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pos", "lr"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["lr"],
                ),
                round_digits,
            ).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


def bpe_segment_corpus(
    docs: DataFrame, vocab: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Tokenize the corpus with a TRAINED BPE segmentation: per-doc
    token counts under the learned merges — the number that actually
    prices a document into a training budget (whitespace counts
    under-estimate rare-word-heavy docs; token_count_bpe_ish is a
    heuristic). OOV words (absent from the training vocab) fall back
    to character count — the worst-case segmentation every real BPE
    tokenizer bottoms out at.

    ``vocab``: (word, symbols) from :func:`bpe_learn_merges`. Shape:
    one corpus explode + an equi-join against the broadcast vocab
    (|vocab| is dictionary-sized) + a map-side-combinable per-doc
    rollup — the corpus shuffles once on doc_id.
    """
    words = docs.select(
        "doc_id",
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
    ).filter(F.length("word") >= 1)
    seg = F.broadcast(
        vocab.select("word", F.size("symbols").alias("word_tokens"))
    )
    return (
        words.join(seg, "word", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("word_tokens"), F.length("word")
            ).alias("word_tokens"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def lm_perplexity(
    docs: DataFrame,
    train_lang: str = "en",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Bigram-LM fluency scoring (the CCNet-style quality signal,
    Wenzek et al. 2020 §4.3 — there a trained KenLM; here the honest
    from-corpus equivalent): train add-1-smoothed bigram counts on the
    ``train_lang`` slice, score EVERY doc's bigrams with
    −ln((c(w1,w2)+1)/(c(w1)+V)), report per-doc mean NLL — high =
    unlike the reference domain (the drop candidates).

    Laws: tokens lowercased; c(w1) is w1's CONTEXT count (occurrences
    as a bigram head — the same frame the numerators come from, so
    probabilities normalize per context); V = distinct tokens of the
    training slice's bigram frame; single-token docs have no bigrams
    and are absent from the output.

    Scale shape: the count tables are map-side-combinable groupBys
    over one exploded bigram pass (write-time artifacts in a
    deployment); scoring joins the corpus bigram stream to them keyed
    by (w1,w2) then w1 — Zipf-hot heads (``the``) are the AQE
    skew-join case; V rides a broadcast 1-row frame, never a driver
    scalar.
    """
    from hadoop_ozone_spark import scratch

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    db = docs.select(
        "doc_id", F.col(lang_col).alias("_lang"), F.explode(bigrams).alias("bg")
    ).select("doc_id", "_lang", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # the bigram stream feeds four consumers (bigram counts, context
    # counts, vocab, scoring) — one persisted text pass, not four
    scratch.fresh("lm_perplexity")
    db = scratch.keep("lm_perplexity", db)
    train = db.filter(F.col("_lang") == train_lang)
    bc = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = train.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        train.select(F.col("w1").alias("w"))
        .unionByName(train.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("vocab"))
    )
    nll = -F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vocab"))
    )
    return (
        db.join(bc, ["w1", "w2"], "left")
        .join(uc, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
        .orderBy(F.desc("avg_nll"), "doc_id")
    )


def _nb_token_stream(
    docs: DataFrame, text_col: str, lang_col: str
) -> DataFrame:
    """(doc_id, lang, token) exploded stream — the one text pass both
    the trainer and the scorer consume."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return docs.select(
        "doc_id", F.col(lang_col).alias("lang"), F.explode(toks).alias("token")
    )


def nb_lang_model(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    round_digits: int = 6,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Multinomial Naive-Bayes language model trained on the corpus's
    own labels (the count-based analog of the fastText supervised
    lang-id classifier CCNet ships, Joulin et al. 2017 — linear
    log-count models are the published recipe; NB is its closed-form,
    exactly-replayable variant).

    Per (lang, token): logp = ln((c(token,lang)+1) / (n_lang + V)) with
    V = the GLOBAL distinct-token vocabulary (so every class smooths
    over the same event space and rows align across classes).

    Scale shape: one exploded token pass collapsed by two map-side-
    combinable groupBys ((lang,token) counts and per-lang totals); the
    result is |langs| x V rows — a broadcast-sized model artifact that
    ``nb_lang_scores`` ships to every executor. No window, no skew
    (token keys are Zipf-hot but the groupBy partial-aggregates).
    ``tokens`` overrides the internal text pass with an already-built
    (persisted) token stream — the nb_lang_scores sharing path.
    """
    tt = (
        tokens
        if tokens is not None
        else _nb_token_stream(docs, text_col, lang_col)
    )
    counts = tt.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("token_cnt"))
    totals = tt.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    vocab = tt.agg(F.count_distinct("token").alias("vocab"))
    return (
        counts.join(totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "token",
            "token_cnt",
            F.round(
                F.log((F.col("token_cnt") + 1) / (F.col("n_lang") + F.col("vocab"))),
                round_digits,
            ).alias("logp"),
        )
        .orderBy("lang", "token")
    )


def nb_lang_scores(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    round_digits: int = 6,
) -> DataFrame:
    """Score every document against every candidate language under the
    ``nb_lang_model`` and pick the argmax class:

    score(d, l) = ln(d_l / D) + Σ_tok cnt(d, tok) · logp(tok | l),
    unseen (tok, l) pairs falling back to the class's smoothing floor
    ln(1/(n_l+V)).  Prediction = highest score, ties to the
    lexicographically smallest language (deterministic in both engines
    because every term is rounded before the fold and the fold runs in
    token order — the dsir_weights discipline).

    Returns (doc_id, lang, pred_lang, score).  Scale shape: the model
    and the per-class floor/prior dims are broadcast; the corpus is
    exploded once, collapsed to per-doc TOKEN COUNTS (Zipf multiplicity
    folds map-side — the scored stream is distinct-tokens-per-doc ×
    |langs|, not positions × |langs|, a ~10× cut at bench scale), then
    shuffled once (groupBy doc_id x |langs|); the argmax is a
    size-|langs| array fold per doc, not a window over the corpus.
    The exploded token stream feeds FIVE consumers (model counts,
    model totals, vocab, class totals, per-doc counts) — one persisted
    text pass, not five (the lm_perplexity barrier pattern).
    """
    from hadoop_ozone_spark import scratch

    scratch.fresh("nb_lang")
    tt = scratch.keep("nb_lang", _nb_token_stream(docs, text_col, lang_col))
    # the model and class dims are tiny but their builds are corpus
    # aggregations — keep them too so repeated scoring invocations
    # (bench steady state, endpoint reuse) serve the broadcasts from
    # cache instead of re-aggregating per call
    model_df = scratch.keep(
        "nb_lang",
        nb_lang_model(docs, text_col, lang_col, round_digits, tokens=tt),
    )
    tc = tt.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    vocab = tt.agg(F.count_distinct("token").alias("vocab"))
    classes = (
        docs.groupBy(F.col(lang_col).alias("cand"))
        .agg(F.count(F.lit(1)).alias("d_lang"))
        .join(
            tt.groupBy(F.col("lang").alias("cand")).agg(
                F.count(F.lit(1)).alias("n_lang")
            ),
            "cand",
        )
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(vocab))
        .select(
            "cand",
            F.round(F.log(F.col("d_lang") / F.col("n_docs")), round_digits).alias(
                "prior"
            ),
            F.round(
                F.log(F.lit(1.0) / (F.col("n_lang") + F.col("vocab"))), round_digits
            ).alias("floor_lp"),
        )
    )
    classes = scratch.keep("nb_lang", classes)
    terms = (
        tc.crossJoin(F.broadcast(classes))
        .join(
            F.broadcast(
                model_df.select(
                    F.col("lang").alias("cand"), "token", "logp"
                )
            ),
            ["cand", "token"],
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "cand",
            "prior",
            "token",
            (
                F.col("cnt")
                * F.coalesce(F.col("logp"), F.col("floor_lp"))
            ).alias("term"),
        )
    )
    scored = terms.groupBy("doc_id", "lang", "cand").agg(
        F.round(
            F.first("prior")
            + F.aggregate(
                F.array_sort(F.collect_list(F.struct("token", "term"))),
                F.lit(0.0),
                lambda acc, s: acc + s["term"],
            ),
            round_digits,
        ).alias("score")
    )
    best = scored.groupBy("doc_id", "lang").agg(
        F.min(F.struct(-F.col("score"), F.col("cand"))).alias("b"),
        F.max("score").alias("score"),
    )
    return best.select(
        "doc_id", "lang", F.col("b.cand").alias("pred_lang"), "score"
    ).orderBy("doc_id")


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    report_mod: int = 20,
) -> DataFrame:
    """Per-doc top-k tf-idf keyword extraction (Sparck Jones 1972
    lineage; smooth idf = ln((N+1)/(df+1)) + 1, the scikit-learn
    convention).

    Global statistics (term df, corpus size N) are computed over the
    FULL corpus; only docs with ``doc_id % report_mod == 0`` are
    reported, keeping the emitted frame bounded while the statistics
    stay corpus-wide. Ties rank deterministically (score desc, term
    asc).

    Scale shape: tf is one map-side-combinable groupBy; df folds tf
    (already distinct per doc-term); N is a 1-row broadcast; the df
    join is keyed by term (Zipf-head skew → AQE skew-join case, same
    as lm_perplexity's count joins). All score arithmetic is the same
    IEEE op sequence in Spark and the DuckDB oracle.
    """
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(
        1.0
    )
    scored = (
        tf.filter(F.col("doc_id") % report_mod == 0)
        .join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * idf).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.select(
            "doc_id", "term", "tf", "score", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


# The standing BM25 benchmark queries (dp_bm25_topk): deterministic,
# hitting the corpus vocabulary; a deployment swaps in its own query
# table — the plan is query-count-independent (queries broadcast).
BM25_QUERIES: tuple[tuple[str, str], ...] = (
    ("q_hash_join", "hash join"),
    ("q_fast_scan", "fast scan filter"),
    ("q_batch_merge", "table merge batch"),
)


def bm25_topk(
    docs: DataFrame,
    queries: tuple[tuple[str, str], ...] = BM25_QUERIES,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson et al., TREC-3 lineage —
    the classic lexical ranker; the retrieval side of a RAG/dataset-
    search pipeline): per (query, doc),
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Engine-portability discipline: each TERM's contribution is
    quantized to integer ppm (round(score·1e6) as long) and the
    per-(query, doc) total is a LONG sum — order-independent, so the
    float fold order can't diverge between engines (the embedding-QC
    integer-moment rule applied to retrieval). avgdl enters as the
    exact integer pair (N, total_len), never a pre-divided double.

    Scale shape: ONE corpus token pass; the query-term dim (a few rows)
    broadcasts into a semi-filter, so tf/df/postings are built over the
    matching slice only; corpus stats (N, total_len) ride a broadcast
    1-row frame; the final top-k is a per-query window over ≤ |hits|
    rows. No corpus shuffle at query time beyond the (doc, term)
    combine."""
    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        sorted(
            {(qid, t) for qid, qtext in queries for t in qtext.lower().split()}
        ),
        "query_id string, term string",
    )
    toks = tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_len"),
    )
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    hits = tok.join(
        F.broadcast(qterms.select("term").distinct()), "term", "leftsemi"
    )
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b)
        * F.col("dl").cast("double")
        * F.col("n_docs")
        / F.col("total_len")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(term_score * 1_000_000).cast("long").alias("ppm"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("ppm").alias("score_ppm"), F.count(F.lit(1)).alias("n_terms"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "doc_id",
            "score_ppm",
            "n_terms",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top-N bigram collocations by pointwise mutual information
    (Church & Hanks 1990): PMI(w1, w2) = ln(c12 · T / (c1 · c2)) over
    corpus bigram/unigram counts with T = total bigram tokens — the
    phrase-mining pass a tokenizer-training or phrase-vocab pipeline
    runs (word2phrase / Mikolov et al. 2013 use the same count shape).

    Portability: PMI is quantized to integer ppm; the ln() argument is
    assembled from exact integer counts in one multiplication order on
    both engines. Rare-pair noise is gated by ``min_count`` (PMI's
    known low-frequency bias — the standard cure).

    Scale shape: one exploded bigram pass (shared via one persisted
    frame), two map-side-combinable groupBys (bigram and unigram-head
    counts), unigram counts broadcast onto the bigram table twice
    (w1/w2 joins — vocab-sized builds), a 1-row total, then a global
    top-N over the min_count-filtered survivors."""
    from hadoop_ozone_spark import scratch

    toks = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    scratch.fresh("pmi_collocations")
    bg = scratch.keep(
        "pmi_collocations",
        docs.select(F.explode(bigrams).alias("bg")).select("bg.w1", "bg.w2"),
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # unigram counts over the SAME event space: occurrences as bigram
    # head (w1) resp. tail (w2), so probabilities normalize against T
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    total = bg.agg(F.count(F.lit(1)).alias("t"))
    pmi = F.log(
        (F.col("c12").cast("double") * F.col("t"))
        / (F.col("c1").cast("double") * F.col("c2"))
    )
    scored = (
        c12.filter(F.col("c12") >= min_count)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(pmi * 1_000_000).cast("long").alias("pmi_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_ppm"), F.asc("w1"), F.asc("w2")
    ).limit(top_n)


def dataset_datasheet(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source dataset-card rollup (the Datasheets-for-Datasets /
    Gebru et al. 2021 summary a curation run publishes): docs, tokens,
    distinct languages, exact-duplicate rate, stopword-quality mean,
    and exact integer token-count percentiles.

    Percentile law (engine-portable, no float interpolation): p50/p90 =
    the token count at 1-based rank ceil(q·n) under (token_count,
    doc_id) ordering — a deterministic order statistic both engines
    compute identically. Quality mean is integer-ppm: per-doc
    stop_hits·1e6 DIV n_tokens, averaged as a long sum DIV count.

    Scale shape: ONE corpus pass stages per-doc features (token count,
    md5, stopword ppm), then everything is source-keyed: the
    percentile window and the rollups share one source-partitioned
    shuffle (subset rule); sources are a small dim, rows-per-source
    large — the classic partition-friendly report."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(t)
    n_tok = F.size(toks)
    staged = docs.select(
        F.col(source_col).alias("source"),
        "doc_id",
        F.col("lang"),
        n_tok.cast("long").alias("n_tokens"),
        F.md5(t).alias("content_hash"),
        F.expr(
            f"size(filter(split(trim(coalesce({text_col}, '')), '\\\\s+'),"
            f" x -> x IN ('the', 'and', 'of'))) * 1000000"
        ).alias("stop_num"),
    ).withColumn(
        "quality_ppm", F.expr("stop_num DIV greatest(n_tokens, 1)")
    )
    w_rank = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    w_src = Window.partitionBy("source")
    ranked = staged.select(
        "source",
        "lang",
        "n_tokens",
        "content_hash",
        "quality_ppm",
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(w_src).alias("_n"),
    )
    per_source = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("content_hash").alias("n_distinct_contents"),
        F.sum("quality_ppm").alias("_q_sum"),
        # ceil(q·n) in exact integers: ceil(n/2) = (n+1) DIV 2,
        # ceil(9n/10) = (9n+9) DIV 10 — no IEEE product in the rank law
        F.min(
            F.when(
                F.col("_rn") == F.expr("(_n + 1) DIV 2"), F.col("n_tokens")
            )
        ).alias("p50_tokens"),
        F.min(
            F.when(
                F.col("_rn") == F.expr("(9 * _n + 9) DIV 10"), F.col("n_tokens")
            )
        ).alias("p90_tokens"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        F.expr(
            "(n_docs - n_distinct_contents) * 1000000 DIV n_docs"
        ).alias("dup_rate_ppm"),
        F.expr("_q_sum DIV n_docs").alias("mean_quality_ppm"),
        "p50_tokens",
        "p90_tokens",
    ).orderBy("source")
