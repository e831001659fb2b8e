"""The one-plan corpus drift report ≡ the multi-sketch form it replaced.

``_reference_drift`` is the earlier shape of corpus_drift_report kept as
the law: each side's KMV sketch through kmv_set_ops, each side's
Misra-Gries summary through mg_summary, each side's quantile sketch
through qsketch_counts/qsketch_quantiles, and one union leg per metric
group. The corpora reach what the registered inputs never do: more than
KMV_K distinct tokens per side (the full-sketch theta branch), MG ties
exactly at the (MG_K+1)-th count, empty sides, NULL and empty text, and
(with the hash lane coarsened) tied KMV hashes."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_ozone_spark.datapipe import sketches
from hadoop_ozone_spark.datapipe import text as text_ops
from hadoop_ozone_spark.plans import datapipe_queries as dq

SCHEMA = "side string, doc_id long, text string"


def _reference_drift(tagged: DataFrame) -> DataFrame:
    tok = tagged.select(
        "side", F.explode(text_ops.tokens(F.col("text"))).alias("token")
    )
    a_tok = tok.filter(F.col("side") == "a").select("token")
    b_tok = tok.filter(F.col("side") == "b").select("token")
    ops = sketches.kmv_set_ops(a_tok, b_tok, "token", tag="test_corpus_drift_ops")
    ka = sketches.mg_summary(a_tok, "token").select("key")
    kb = sketches.mg_summary(b_tok, "token").select("key")
    tc = tagged.select(
        "side",
        F.size(text_ops.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )

    def metrics(frame, pairs):
        return frame.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("metric"),
                            col.cast("long").alias("value"),
                        )
                        for name, col in pairs
                    ]
                )
            ).alias("mv")
        ).select("mv.metric", "mv.value")

    a_in = F.coalesce("_a", F.lit(0))
    b_in = F.coalesce("_b", F.lit(0))
    hh = (
        ka.select("key", F.lit(1).alias("_a"))
        .join(kb.select("key", F.lit(1).alias("_b")), "key", "full")
        .agg(
            F.coalesce(F.sum(a_in * b_in), F.lit(0)).alias("shared"),
            F.coalesce(F.sum(a_in * (1 - b_in)), F.lit(0)).alias("only_a"),
            F.coalesce(F.sum((1 - a_in) * b_in), F.lit(0)).alias("only_b"),
        )
    )
    out = metrics(
        ops,
        [
            ("vocab_jaccard_ppm", F.col("jaccard_ppm")),
            ("vocab_union_est", F.col("union_est")),
        ],
    ).unionByName(
        metrics(
            hh,
            [
                ("hh_shared", F.col("shared")),
                ("hh_only_a", F.col("only_a")),
                ("hh_only_b", F.col("only_b")),
            ],
        )
    )
    for s in ("a", "b"):
        counts = sketches.qsketch_counts(
            tc.filter(F.col("side") == s).select("n_tokens"), "n_tokens"
        )
        q = sketches.qsketch_quantiles(counts, (500000, 900000))
        out = out.unionByName(
            q.select(
                F.concat(
                    F.when(F.col("q_ppm") == 500000, F.lit("p50")).otherwise(
                        F.lit("p90")
                    ),
                    F.lit(f"_tokens_{s}"),
                ).alias("metric"),
                F.col("est").cast("long").alias("value"),
            )
        )
    return out.orderBy("metric")


def _docs(side: str, tokens: list[str], start: int, per_doc: int = 7) -> list:
    return [
        (side, start + i, " ".join(tokens[j : j + per_doc]))
        for i, j in enumerate(range(0, len(tokens), per_doc))
    ]


def _wide() -> list:
    # > KMV_K distinct tokens per side, partial overlap, uneven counts
    a = [f"t{i}" for i in range(400)] + [f"t{i}" for i in range(0, 400, 3)]
    b = [f"t{i}" for i in range(250, 700)] + [f"t{i}" for i in range(250, 300)]
    return _docs("a", a, 0) + _docs("b", b, 10_000, per_doc=11)


def _mg_ties() -> list:
    # side a: 10 tokens x5 then 10 tokens x3, so ranks 11..20 tie at the
    # (MG_K+1)-th count 3 and only the x5 tokens survive; side b: 17
    # tokens x4 (all tied, empty summary) plus 2 tokens x6
    a = [f"h{i}" for i in range(10)] * 5 + [f"m{i}" for i in range(10)] * 3
    b = [f"m{i}" for i in range(17)] * 4 + ["h0", "z"] * 6
    return _docs("a", a, 0) + _docs("b", b, 10_000, per_doc=5)


def _one_side_empty() -> list:
    return [r for r in _wide() if r[0] == "a"]


def _null_and_empty_text() -> list:
    return [
        ("a", 1, None),
        ("a", 2, ""),
        ("a", 3, "   "),
        ("a", 4, "x y  z"),
        ("b", 5, None),
        ("b", 6, "y"),
        ("b", 7, ""),
    ]


CASES = {
    "wide_vocab": _wide,
    "mg_ties_at_k_plus_1": _mg_ties,
    "one_side_empty": _one_side_empty,
    "both_sides_empty": list,
    "null_and_empty_text": _null_and_empty_text,
}


def _both(spark, rows):
    tagged = spark.createDataFrame(rows, SCHEMA)
    got = [tuple(r) for r in dq.corpus_drift_report(tagged).collect()]
    want = [tuple(r) for r in _reference_drift(tagged).collect()]
    return got, want


@pytest.mark.parametrize("case", sorted(CASES))
def test_one_plan_drift_matches_multi_sketch_form(spark, case):
    rows = CASES[case]()
    got, want = _both(spark, rows)
    assert got == want
    metrics = dict(got)
    # each case reaches the branch it is named for
    if case == "wide_vocab":
        assert 0 < metrics["vocab_jaccard_ppm"] < 1_000_000
        assert metrics["vocab_union_est"] != 700  # estimated, not exact
    if case == "mg_ties_at_k_plus_1":
        assert (metrics["hh_only_a"], metrics["hh_shared"], metrics["hh_only_b"]) == (
            9,
            1,
            1,
        )
    if case == "one_side_empty":
        assert "p50_tokens_a" in metrics and "p50_tokens_b" not in metrics
    if case == "both_sides_empty":
        assert sorted(metrics) == [
            "hh_only_a",
            "hh_only_b",
            "hh_shared",
            "vocab_jaccard_ppm",
            "vocab_union_est",
        ]


def test_one_plan_drift_keeps_tied_hashes_distinct(spark, monkeypatch):
    """A coarse hash lane forces many tokens onto one hash: the sketch
    is the KMV_K smallest DISTINCT hashes, so tied hashes share one
    rank and one slot."""
    monkeypatch.setattr(
        sketches, "md5_lane", lambda col: F.crc32(col.cast("string")) % 1000
    )
    rows = _wide()
    got, want = _both(spark, rows)
    assert got == want
    tok = spark.createDataFrame(rows, SCHEMA).select(
        "side", F.explode(text_ops.tokens(F.col("text"))).alias("token")
    ).distinct()
    per_side = tok.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(sketches.kmv_hash(F.col("token"))).alias("nh"),
    )
    for r in per_side.collect():
        assert r.nh > sketches.KMV_K and r.n > r.nh  # full sketch, ties
