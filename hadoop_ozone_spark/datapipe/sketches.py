"""Engine-portable cardinality sketches.

Spark's own approx_count_distinct is HyperLogLog++ behind an opaque
binary — useless for a value-hashed DuckDB oracle. This module builds
HLL (Flajolet et al. 2007) from first principles on the repo's md5
hash lane so BOTH engines compute the identical sketch:

- bucket = h mod m, rest = h DIV m (the remaining 60−log2(m) bits);
- rho = leading zeros of rest + 1, via a generated integer CASE ladder
  (the binning.py no-log2-floats discipline);
- the harmonic sum Σ 2^(−M_j) is computed as the EXACT integer
  Σ 2^(REST_BITS+1−M_j) — every term is a dyadic rational scaled to an
  integer, so the fold is order-independent and bit-identical across
  engines; the single float division and the ln() small-range
  correction happen once, on identical inputs.

At 100 TB this is the shape that matters: one map-side pass, a groupBy
over m buckets (m = 256 → a 256-row shuffle regardless of input), and
a 1-row estimate. Registers are mergeable by max — the sketch is a
write-time artifact that unions across partitions/days for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_ozone_spark.datapipe.dedup import md5_lane, md5_lane_sql

LANE_BITS = 59  # md5_lane is 15 hex chars = 60 bits; keep it non-negative
M = 256  # registers
BUCKET_BITS = 8
REST_BITS = LANE_BITS - BUCKET_BITS  # 51
# alpha_m for m >= 128 (Flajolet et al. 2007, Fig. 3)
ALPHA = 0.7213 / (1.0 + 1.079 / M)


def _rho_sql(rest: str) -> str:
    """Leading zeros of the REST_BITS-bit value + 1: the smallest r ≥ 1
    with rest ≥ 2^(REST_BITS − r); all-zero rest → REST_BITS + 1.
    Generated CASE ladder — integer compares only. One SQL string for
    both engines: Spark takes it through ``F.expr`` (one plan node
    instead of a py4j round trip per branch)."""
    whens = "\n    ".join(
        f"WHEN {rest} >= {2 ** (REST_BITS - r)} THEN {r}"
        for r in range(1, REST_BITS + 1)
    )
    return f"CASE\n    {whens}\n    ELSE {REST_BITS + 1} END"


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(bucket, register): max rho per bucket over the md5 lane of
    ``col``. One map-side-combinable groupBy; at most M rows out."""
    staged = df.select(
        F.pmod(md5_lane(F.col(col)), F.lit(2**LANE_BITS)).alias("h")
    ).select(
        F.pmod(F.col("h"), F.lit(M)).alias("bucket"),
        F.expr(f"h DIV {M}").alias("rest"),
    )
    return staged.groupBy("bucket").agg(
        F.max(F.expr(_rho_sql("rest"))).alias("register")
    )


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """One-row (hll_estimate, n_zero_registers, true law constants):
    the raw HLL estimate with the small-range linear-counting
    correction (E ≤ 2.5m and V > 0 → m·ln(m/V)), rounded to a long.

    The harmonic denominator is the exact integer
    S = Σ 2^(REST_BITS+1−M_j) over all m registers (absent buckets
    count as register 0 → term 2^(REST_BITS+1)), so the fold is
    order-independent; E_raw = alpha·m²·2^(REST_BITS+1)/S in one
    double division."""
    regs = hll_registers(df, col)
    scale = 2 ** (REST_BITS + 1)
    # coalesce the sums to 0: over an EMPTY input SUM is NULL, which
    # would propagate through s/e_raw and skip the linear-counting
    # branch — the empty sketch must fall into it and return 0
    # (ADVICE r8; matters for merged-zone readers folding empty state)
    agg = regs.agg(
        F.coalesce(
            F.sum(
                F.expr(f"cast({scale} as double) / power(2.0, register)").cast("long")
            ),
            F.lit(0),
        ).alias("_s_present"),
        F.count(F.lit(1)).alias("_n_present"),
        F.coalesce(
            F.sum(F.when(F.col("register") == 0, 1).otherwise(0)), F.lit(0)
        ).alias("_z_present"),
    )
    s = (F.col("_s_present") + (F.lit(M) - F.col("_n_present")) * F.lit(scale)).cast(
        "double"
    )
    v = (F.lit(M) - F.col("_n_present")) + F.col("_z_present")
    e_raw = F.lit(ALPHA * M * M * scale) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * M)) & (v > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        F.round(est).cast("long").alias("hll_estimate"),
        v.cast("long").alias("n_zero_registers"),
    )


def HLL_SQL(source_sql: str, col: str) -> str:
    """DuckDB twin of hll_estimate over ``source_sql`` (a relation
    producing ``col``), generated from the same constants."""
    lane = md5_lane_sql(col)
    scale = 2 ** (REST_BITS + 1)
    return f"""
WITH vals AS ({source_sql}),
lanes AS (
  SELECT (({lane}) % {2**LANE_BITS} + {2**LANE_BITS}) % {2**LANE_BITS} AS h
  FROM vals
),
regs AS (
  SELECT h % {M} AS bucket,
         max({_rho_sql(f"h // {M}")}) AS register
  FROM lanes GROUP BY bucket
),
folded AS (
  SELECT COALESCE(SUM(CAST(CAST({scale} AS DOUBLE) / power(2.0, register)
                           AS BIGINT)), 0)
           AS _s_present,
         count(*) AS _n_present,
         COALESCE(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END), 0)
           AS _z_present
  FROM regs
),
est AS (
  SELECT CAST(_s_present + ({M} - _n_present) * {scale} AS DOUBLE) AS s,
         ({M} - _n_present) + _z_present AS v
  FROM folded
)
SELECT CAST(round(CASE WHEN {ALPHA * M * M * scale!r} / s <= {2.5 * M!r}
                        AND v > 0
                       THEN {float(M)!r} * ln({float(M)!r} / CAST(v AS DOUBLE))
                       ELSE {ALPHA * M * M * scale!r} / s END) AS BIGINT)
         AS hll_estimate,
       CAST(v AS BIGINT) AS n_zero_registers
FROM est
"""


# --- Count-Min frequency sketch (Cormode & Muthukrishnan 2005) ----------

CM_DEPTH = 4
CM_WIDTH = 1024


def cm_counters(df: DataFrame, col: str) -> DataFrame:
    """(row, bucket, cnt): the d×w Count-Min counter matrix — each
    occurrence increments one bucket per row, bucket = md5 lane of
    (row_seed, value) mod w. One exploded pass (d× the stream) into a
    map-side-combinable groupBy; the artifact is d·w rows regardless of
    input and merges across partitions/days by SUM (pinned)."""
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(CM_DEPTH - 1)),
            lambda r: F.struct(
                r.alias("row"),
                F.pmod(
                    md5_lane(
                        F.concat(
                            r.cast("string"), F.lit("|"), F.col(col).cast("string")
                        )
                    ),
                    F.lit(CM_WIDTH),
                ).alias("bucket"),
            ),
        )
    )
    return (
        df.select(rows.alias("rb"))
        .select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_point_estimates(df: DataFrame, col: str, keys: DataFrame) -> DataFrame:
    """(key, cm_estimate): min over the d counters each key hashes to —
    the classic point query; cm_estimate ≥ true count always (the
    one-sided error law, pinned in tests). ``keys`` is a small frame
    with a ``key`` column. Probes LEFT-join the counter matrix with
    empty cells counting 0, so a key absent from the stream estimates
    ~0 instead of vanishing, and a lane landing on an empty cell
    correctly drags the min down (ADVICE r8). The counter matrix is
    the broadcast side — d·w rows, input-size-independent."""
    counters = cm_counters(df, col)
    probes = keys.select(
        "key",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(CM_DEPTH - 1)),
                lambda r: F.struct(
                    r.alias("row"),
                    F.pmod(
                        md5_lane(
                            F.concat(
                                r.cast("string"),
                                F.lit("|"),
                                F.col("key").cast("string"),
                            )
                        ),
                        F.lit(CM_WIDTH),
                    ).alias("bucket"),
                ),
            )
        ).alias("rb"),
    ).select("key", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_estimate"))
    )


def cm_lane_sql(row: int, expr: str) -> str:
    """DuckDB twin of one Count-Min bucket lane."""
    lane = md5_lane_sql(f"concat(CAST({row} AS VARCHAR), '|', CAST({expr} AS VARCHAR))")
    return f"(({lane}) % {CM_WIDTH} + {CM_WIDTH}) % {CM_WIDTH}"


# --- Bloom filter membership (Bloom 1970) --------------------------------

BLOOM_BITS = 32768  # m
BLOOM_K = 4  # lanes


def _bloom_positions(val: Column) -> Column:
    """Array of the BLOOM_K bit positions for a value — seeded md5
    lanes mod m (the Count-Min lane construction reused)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
        lambda r: F.pmod(
            md5_lane(F.concat(r.cast("string"), F.lit("|"), val.cast("string"))),
            F.lit(BLOOM_BITS),
        ),
    )


def bloom_bits(df: DataFrame, col: str) -> DataFrame:
    """(bit,): the DISTINCT set bit positions — the filter itself.
    ≤ m rows regardless of input; merges across builds by UNION
    DISTINCT (pinned). One exploded pass + a distinct over ≤ m keys."""
    return (
        df.select(F.explode(_bloom_positions(F.col(col))).alias("bit"))
        .distinct()
    )


def bloom_membership(bits: DataFrame, probes: DataFrame, col: str) -> DataFrame:
    """(key, member): member iff ALL BLOOM_K probe bits are set — no
    false negatives ever (pinned); false positives at the classic
    (1 − e^(−kn/m))^k rate. The probe side explodes to k rows per key
    and left-joins the ≤ m-row broadcast bit set."""
    p = probes.select(
        F.col(col).alias("key"),
        F.explode(_bloom_positions(F.col(col))).alias("bit"),
    )
    hit = F.broadcast(bits.withColumn("_set", F.lit(1)))
    return (
        p.join(hit, "bit", "left")
        .groupBy("key")
        .agg((F.count(F.lit(1)) == F.sum(F.coalesce("_set", F.lit(0)))).alias("member"))
    )


def bloom_lane_sql(row: int, expr: str) -> str:
    lane = md5_lane_sql(
        f"concat(CAST({row} AS VARCHAR), '|', CAST({expr} AS VARCHAR))"
    )
    return f"(({lane}) % {BLOOM_BITS} + {BLOOM_BITS}) % {BLOOM_BITS}"


def hll_estimate_grouped(df: DataFrame, key: str, col: str) -> DataFrame:
    """(key, hll_estimate): the portable HLL per GROUP — distinct(col)
    per key without ever shuffling raw values: the map side collapses
    to (key, bucket, max rho) — ≤ m rows per key — and the estimate
    folds those. The grouped twin of hll_estimate (same register and
    exact-integer-denominator laws, same small-range correction)."""
    staged = df.select(
        F.col(key).alias("key"),
        F.pmod(md5_lane(F.col(col)), F.lit(2**LANE_BITS)).alias("h"),
    ).select(
        "key",
        F.pmod(F.col("h"), F.lit(M)).alias("bucket"),
        F.expr(f"h DIV {M}").alias("rest"),
    )
    regs = staged.groupBy("key", "bucket").agg(
        F.max(F.expr(_rho_sql("rest"))).alias("register")
    )
    scale = 2 ** (REST_BITS + 1)
    agg = regs.groupBy("key").agg(
        F.sum(
            F.expr(f"cast({scale} as double) / power(2.0, register)").cast("long")
        ).alias("_s_present"),
        F.count(F.lit(1)).alias("_n_present"),
        F.sum(F.when(F.col("register") == 0, 1).otherwise(0)).alias("_z_present"),
    )
    s = (
        F.col("_s_present") + (F.lit(M) - F.col("_n_present")) * F.lit(scale)
    ).cast("double")
    v = (F.lit(M) - F.col("_n_present")) + F.col("_z_present")
    e_raw = F.lit(ALPHA * M * M * scale) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * M)) & (v > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        "key",
        F.round(est).cast("long").alias("hll_estimate"),
        v.cast("long").alias("n_zero_registers"),
    )


def HLL_GROUPED_SQL(source_sql: str, key: str, col: str) -> str:
    """DuckDB twin of hll_estimate_grouped."""
    lane = md5_lane_sql(col)
    scale = 2 ** (REST_BITS + 1)
    return f"""
WITH vals AS ({source_sql}),
lanes AS (
  SELECT {key} AS key,
         (({lane}) % {2**LANE_BITS} + {2**LANE_BITS}) % {2**LANE_BITS} AS h
  FROM vals
),
regs AS (
  SELECT key, h % {M} AS bucket,
         max({_rho_sql(f"h // {M}")}) AS register
  FROM lanes GROUP BY key, bucket
),
folded AS (
  SELECT key,
         SUM(CAST(CAST({scale} AS DOUBLE) / power(2.0, register) AS BIGINT))
           AS _s_present,
         count(*) AS _n_present,
         SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS _z_present
  FROM regs GROUP BY key
),
est AS (
  SELECT key,
         CAST(_s_present + ({M} - _n_present) * {scale} AS DOUBLE) AS s,
         ({M} - _n_present) + _z_present AS v
  FROM folded
)
SELECT key,
       CAST(round(CASE WHEN {ALPHA * M * M * scale!r} / s <= {2.5 * M!r}
                        AND v > 0
                       THEN {float(M)!r} * ln({float(M)!r} / CAST(v AS DOUBLE))
                       ELSE {ALPHA * M * M * scale!r} / s END) AS BIGINT)
         AS hll_estimate,
       CAST(v AS BIGINT) AS n_zero_registers
FROM est
"""


# --- Portable quantile sketch (log-width histogram) ----------------------
#
# The fourth mergeable write-time artifact next to HLL (cardinality),
# Count-Min (frequency), and Bloom (membership): quantiles. A t-digest
# is float-centroid-based and engine-opaque; this is the dyadic
# alternative that both engines compute bit-identically — a histogram
# over log-width bins with QS_PER_OCTAVE sub-bins per octave, bin
# boundaries the DISTINCT integers ceil(2^(i/QS_PER_OCTAVE)) (exact
# bins below ~2^4 where consecutive bounds differ by 1, <= 2^(1/8)-1
# ~ 9.05% relative width above). The artifact is (bin, cnt) rows —
# <= len(QS_THRESHOLDS)+1 regardless of input — and merges by SUM, the
# Count-Min contract. Quantile estimate = the lower bound of the bin
# holding 1-based rank ceil(q*n) (integer rank arithmetic, the
# dataset_datasheet law), so est <= true < next threshold: the
# one-sided-within-one-bin guarantee pinned in tests.

QS_PER_OCTAVE = 8
QS_MAX_OCTAVES = 20  # covers values up to 2^20; larger -> overflow bin


def _qs_thresholds() -> list[int]:
    import math

    return sorted(
        {
            math.ceil(2 ** (i / QS_PER_OCTAVE))
            for i in range(QS_MAX_OCTAVES * QS_PER_OCTAVE + 1)
        }
    )


QS_THRESHOLDS = _qs_thresholds()


def _qs_octaves() -> list[tuple[int, int, list[int]]]:
    """(lower_pow2, base_index, octave thresholds) per octave — the
    two-level decomposition of the flat #{t <= v} ladder: for
    v in [2^o, 2^(o+1)), bin = #{t < 2^o} + #{octave thresholds <= v}."""
    import bisect

    out = []
    for o in range(QS_MAX_OCTAVES):
        lo, hi = 2**o, 2 ** (o + 1)
        base = bisect.bisect_left(QS_THRESHOLDS, lo)
        octs = [t for t in QS_THRESHOLDS if lo <= t < hi]
        out.append((lo, base, octs))
    return out


_QS_OCTAVES = _qs_octaves()


def _qs_bin(name: str) -> Column:
    """1-based index of the largest threshold <= the value v of column
    ``name``; 0 for v < 1.

    Two-level generated CASE ladder: a <=QS_MAX_OCTAVES+1-branch octave
    dispatch (powers of two), then the octave's own <=QS_PER_OCTAVE
    thresholds — identical result to the flat #{t <= v} law (pinned vs
    a bisect replay in tests) at <=29 evaluated compares instead of up
    to len(QS_THRESHOLDS): the flat ladder measured 36x a plain
    groupBy's cost at 100M rows; this form ~6x less. Emitted as the one
    SQL string the DuckDB twin also uses: built as Column calls the
    ladder cost ~5.7k py4j round trips per build."""
    return F.expr(qs_bin_sql(f"`{name}`"))


def qs_bin_sql(v: str) -> str:
    """The two-level ladder over SQL expression ``v`` (Spark and DuckDB
    share it)."""
    arms = []
    arms.append(f"WHEN {v} >= {2 ** QS_MAX_OCTAVES} THEN {len(QS_THRESHOLDS)}")
    for lo, base, octs in reversed(_QS_OCTAVES):
        inner_whens = " ".join(
            f"WHEN {v} >= {t} THEN {base + j}"
            for j, t in reversed(list(enumerate(octs, start=1)))
        )
        arms.append(
            f"WHEN {v} >= {lo} THEN (CASE {inner_whens} ELSE {base} END)"
        )
    joined = "\n    ".join(arms)
    return f"CASE\n    {joined}\n    ELSE 0 END"


# the threshold array as one SQL literal (one py4j call, not ~12 per
# element); array<int> like the QS_THRESHOLDS ints
_QS_BOUNDS_SQL = f"array({', '.join(map(str, QS_THRESHOLDS))})"


def _q_ppms_sql(q_ppms: tuple[int, ...]) -> str:
    return "array(" + ", ".join(f"CAST({q} AS BIGINT)" for q in q_ppms) + ")"


def qsketch_counts(df: DataFrame, col: str) -> DataFrame:
    """(bin, cnt): the sketch itself. One map-side-combinable groupBy;
    <= len(QS_THRESHOLDS)+1 rows out regardless of input; SUM-merge."""
    return (
        df.select(_qs_bin(col).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qsketch_quantiles(
    counts: DataFrame, q_ppms: tuple[int, ...] = (500000, 900000, 990000)
) -> DataFrame:
    """(q_ppm, est): quantile estimates from a (bin, cnt) sketch —
    est = lower bound of the first bin whose cumulative count reaches
    rank ceil(q*n) (exact integer: (q_ppm*n + 999999) DIV 1e6). The
    cumulative window is global but runs over the <= 160-row artifact,
    never the input."""
    n = counts.agg(F.sum("cnt").alias("n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    # the q_ppm axis is an inline explode of literals, not a joined
    # frame (optimization r13, guide §5): createDataFrame parallelizes
    # even 3 rows through Python workers (one 32-task job per call) and
    # the crossJoin added a broadcast future per action — the explode
    # is pure codegen with identical row multiplicity
    bounds = F.expr(_QS_BOUNDS_SQL)
    picked = (
        cum.crossJoin(F.broadcast(n))
        .withColumn(
            "q_ppm",
            F.explode(F.expr(_q_ppms_sql(q_ppms))),
        )
        .withColumn("rank", F.expr("(q_ppm * n + 999999) DIV 1000000"))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("q_ppm")
        .agg(F.min("bin").alias("bin"))
    )
    return picked.select(
        "q_ppm",
        F.when(F.col("bin") == 0, F.lit(0))
        .otherwise(F.element_at(bounds, F.col("bin")))
        .cast("long")
        .alias("est"),
    )


def qsketch_counts_grouped(df: DataFrame, key: str, col: str) -> DataFrame:
    """(key, bin, cnt): the quantile sketch per GROUP — the map side
    collapses to <= len(QS_THRESHOLDS)+1 rows per key before the
    shuffle (the hll_estimate_grouped shape); per-key artifacts
    SUM-merge independently."""
    return (
        df.select(F.col(key).alias("key"), _qs_bin(col).alias("bin"))
        .groupBy("key", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qsketch_quantiles_grouped(
    counts: DataFrame, q_ppms: tuple[int, ...] = (500000, 900000, 990000)
) -> DataFrame:
    """(key, q_ppm, est): per-key quantile estimates from a grouped
    (key, bin, cnt) sketch — same holding-bin law as
    qsketch_quantiles, windows partitioned by key over the bounded
    artifact (grouped ≡ per-key ungrouped, pinned)."""
    n = counts.groupBy("key").agg(F.sum("cnt").alias("n"))
    w = (
        Window.partitionBy("key")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    # inline literal explode, not a createDataFrame crossJoin — see
    # qsketch_quantiles
    bounds = F.expr(_QS_BOUNDS_SQL)
    picked = (
        cum.join(n, "key")
        .withColumn(
            "q_ppm",
            F.explode(F.expr(_q_ppms_sql(q_ppms))),
        )
        .withColumn("rank", F.expr("(q_ppm * n + 999999) DIV 1000000"))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("key", "q_ppm")
        .agg(F.min("bin").alias("bin"))
    )
    return picked.select(
        "key",
        "q_ppm",
        F.when(F.col("bin") == 0, F.lit(0))
        .otherwise(F.element_at(bounds, F.col("bin")))
        .cast("long")
        .alias("est"),
    )


def cm_counters_grouped(df: DataFrame, key: str, col: str) -> DataFrame:
    """(key, row, bucket, cnt): the Count-Min matrix per GROUP — the
    grouped member of the sketch family (HLL-G / QS-G precedent).
    Same seeded lanes as cm_counters, so a group's counters are
    bit-identical to running the ungrouped sketch on its slice
    (pinned); per-key artifacts are <= d*w rows and SUM-merge."""
    rows = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(CM_DEPTH - 1)),
            lambda r: F.struct(
                r.alias("row"),
                F.pmod(
                    md5_lane(
                        F.concat(
                            r.cast("string"), F.lit("|"), F.col(col).cast("string")
                        )
                    ),
                    F.lit(CM_WIDTH),
                ).alias("bucket"),
            ),
        )
    )
    return (
        df.select(F.col(key).alias("key"), rows.alias("rb"))
        .select(
            "key",
            F.col("rb.row").alias("row"),
            F.col("rb.bucket").alias("bucket"),
        )
        .groupBy("key", "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_point_estimates_grouped(
    df: DataFrame, key: str, col: str, keys: DataFrame
) -> DataFrame:
    """(key, probe, cm_estimate): per-group point queries — ``keys``
    carries (key, probe) pairs; probes LEFT-join the grouped counter
    matrix with empty cells counting 0 (the ADVICE-r8 absent-key
    contract), min over the d lanes per (group, probe)."""
    counters = cm_counters_grouped(df, key, col)
    probes = keys.select(
        "key",
        "probe",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(CM_DEPTH - 1)),
                lambda r: F.struct(
                    r.alias("row"),
                    F.pmod(
                        md5_lane(
                            F.concat(
                                r.cast("string"),
                                F.lit("|"),
                                F.col("probe").cast("string"),
                            )
                        ),
                        F.lit(CM_WIDTH),
                    ).alias("bucket"),
                ),
            )
        ).alias("rb"),
    ).select(
        "key", "probe",
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"),
    )
    return (
        probes.join(counters, ["key", "row", "bucket"], "left")
        .groupBy("key", "probe")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_estimate"))
    )


# --- KMV / theta sketch: distinct counting with SET OPERATIONS ----------
#
# The fifth mergeable write-time artifact. HLL estimates |A| but cannot
# intersect; the K-Minimum-Values sketch (Bar-Yossef et al. 2002; the
# theta-sketch generalization, Dasgupta et al. 2016) keeps the KMV_K
# smallest DISTINCT hash values, so two sketches support
# |A ∩ B| / |A ∪ B| / Jaccard estimates — the cross-source overlap /
# contamination dial a 100 TB curation pipeline reads before paying for
# an exact anti-join. Merge = union the hash sets, re-take the k
# smallest (pinned). The artifact is ≤ KMV_K rows regardless of input;
# the build is one distinct-hash shuffle + a TakeOrdered(k) — no global
# sort ever materializes.
#
# Estimation law (both engines bit-identical): hashes are uniform on
# [0, 2^LANE_BITS); if the sketch holds fewer than k hashes it IS the
# distinct set (exact branch); else the k-th smallest hash h_k gives
# theta = h_k and est = (k−1) · 2^LANE_BITS / h_k — one double
# multiply + divide. The operands need not be exactly representable
# (h_k uses up to 59 mantissa bits): both engines cast the SAME
# integers to double (IEEE round-to-nearest is deterministic) and
# apply the same two operations, so the results agree bitwise.
#
# NULL values are EXCLUDED from every KMV sketch (md5 of NULL is NULL;
# Spark sorts NULLS FIRST while DuckDB sorts NULLS LAST, so keeping
# them would put a NULL hash in one engine's sketch and not the
# other's). Coalesce the column first if NULL is a meaningful value.

KMV_K = 256
_LANE_MOD = 2**LANE_BITS


def kmv_sketch(df: DataFrame, col: str) -> DataFrame:
    """(h,): the KMV_K smallest DISTINCT md5-lane hashes of ``col``.
    groupBy(h) is map-side combinable; orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, merged at the driver) —
    the artifact never exceeds KMV_K rows."""
    hashes = (
        df.select(F.pmod(md5_lane(F.col(col)), F.lit(_LANE_MOD)).alias("h"))
        .filter(F.col("h").isNotNull())  # NULL input -> NULL hash; see header
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("h")
    )
    return hashes.orderBy("h").limit(KMV_K)


def kmv_theta(sketch: DataFrame) -> DataFrame:
    """1-row (theta,): h_k if the sketch is full, else 2^LANE_BITS
    (an under-full sketch has seen every distinct hash below 2^59)."""
    return sketch.agg(
        F.when(F.count(F.lit(1)) >= F.lit(KMV_K), F.max("h"))
        .otherwise(F.lit(_LANE_MOD))
        .alias("theta")
    )


def kmv_estimate(df: DataFrame, col: str) -> DataFrame:
    """1-row (kmv_estimate, sketch_size): exact distinct count below k,
    the (k−1)/θ-normalized estimate at or above it."""
    sk = kmv_sketch(df, col)
    agg = sk.agg(
        F.count(F.lit(1)).alias("sketch_size"), F.max("h").alias("_hk")
    )
    est = F.when(
        F.col("sketch_size") < F.lit(KMV_K), F.col("sketch_size").cast("double")
    ).otherwise(
        F.lit(float((KMV_K - 1) * _LANE_MOD)) / F.col("_hk").cast("double")
    )
    return agg.select(
        F.round(est).cast("long").alias("kmv_estimate"),
        F.col("sketch_size").cast("long").alias("sketch_size"),
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, col: str, tag: str = "kmv_set_ops"
) -> DataFrame:
    """1-row theta-sketch set operations over two relations: build the
    two sketches, then compose (see kmv_set_ops_from_sketches).

    ``tag`` names the scratch slot pair the composed sketches persist
    under — call sites whose returned frames may be actioned after
    another call's build MUST pass an exclusive tag, or building one
    query's sketches unpersists the other's checkpoint blocks (ADVICE
    r13 high)."""
    return kmv_set_ops_from_sketches(
        kmv_sketch(a, col), kmv_sketch(b, col), tag=tag
    )


def kmv_set_ops_from_sketches(
    sketch_a: DataFrame, sketch_b: DataFrame, tag: str = "kmv_set_ops"
) -> DataFrame:
    """1-row theta-sketch set operations from two ALREADY-BUILT KMV
    sketches ((h,) frames — fresh builds or the zone folds
    sketch_stream.read_kmv_sketch maintains):
    (a_est, b_est, inter_est, union_est, jaccard_ppm). The two
    ≤KMV_K-row sketches full-outer-join on h; rows below the combined
    theta = min(theta_a, theta_b) form a uniform sample of A ∪ B, so
    |match|/theta and |union|/theta scale up by 2^LANE_BITS; Jaccard
    is the exact integer ratio of the two sample counts (ppm)."""
    from hadoop_ozone_spark import scratch

    # both sketches feed the overlap AND the per-side estimates — keep
    # them through the caller's materialization via the bounded scratch
    # registry (the repo contract for persists that outlive the
    # function return; raw .persist() would leak one cached generation
    # per invocation with changing inputs). keep_ckpt, not keep
    # (optimization r13): the artifacts are <= KMV_K+1 rows but their
    # plans embed the full input tree (corpus token explosions in the
    # drift path) — checkpointing makes every downstream set-op leg
    # (theta, merged, per-side estimates: 5+ actions) re-plan against a
    # leaf instead of re-optimizing the corpus tree per action.
    scratch.fresh(tag)
    ska = scratch.keep_ckpt(tag, sketch_a.withColumn("_a", F.lit(1)))
    skb = scratch.keep_ckpt(tag, sketch_b.withColumn("_b", F.lit(1)))
    # ONE 1-row stats pass over the union of the two checkpointed
    # ≤KMV_K-row sketches computes both thetas AND both per-side
    # estimates (optimization r13, guide §5): the previous shape ran
    # three separate 1-row aggregates (theta_a × theta_b, a_est,
    # b_est) plus a full outer join and an empty-sample re-anchor
    # join — five broadcast futures per action. Arithmetic is
    # unchanged expression for expression: sum(_a) ≡ count(*) on the
    # side's distinct-h sketch (coalesced to 0 for the empty side,
    # matching count's 0), max(h if _a) ≡ the side's max(h), and
    # union+groupBy(h) ≡ the full join on per-side-distinct h.
    raw = ska.select("h", "_a", F.lit(0).alias("_b")).unionByName(
        skb.select("h", F.lit(0).alias("_a"), "_b")
    )

    def _est(n: Column, hk: Column) -> Column:
        e = F.when(n < F.lit(KMV_K), n.cast("double")).otherwise(
            F.lit(float((KMV_K - 1) * _LANE_MOD)) / hk.cast("double")
        )
        return F.round(e).cast("long")

    def _theta(n: Column, hk: Column) -> Column:
        return F.when(n >= F.lit(KMV_K), hk).otherwise(F.lit(_LANE_MOD))

    stats = F.broadcast(
        raw.agg(
            F.coalesce(F.sum("_a"), F.lit(0)).alias("_na"),
            F.coalesce(F.sum("_b"), F.lit(0)).alias("_nb"),
            F.max(F.when(F.col("_a") == 1, F.col("h"))).alias("_ha"),
            F.max(F.when(F.col("_b") == 1, F.col("h"))).alias("_hb"),
        ).select(
            F.least(
                _theta(F.col("_na"), F.col("_ha")),
                _theta(F.col("_nb"), F.col("_hb")),
            ).alias("theta"),
            _est(F.col("_na"), F.col("_ha")).alias("a_est"),
            _est(F.col("_nb"), F.col("_hb")).alias("b_est"),
        )
    )
    # global agg instead of groupBy(theta)+re-anchor: always 1 row,
    # with the same coalesce-to-0 law for the empty-sample case
    hits = (
        raw.groupBy("h")
        .agg(F.max("_a").alias("in_a"), F.max("_b").alias("in_b"))
        .crossJoin(stats)
        .filter(F.col("h") < F.col("theta"))
        .agg(
            F.coalesce(
                F.sum(F.col("in_a") * F.col("in_b")), F.lit(0)
            ).alias("_inter"),
            F.count(F.lit(1)).alias("_uni"),
        )
    )
    scale = F.lit(float(_LANE_MOD)) / F.col("theta").cast("double")
    return hits.crossJoin(stats).select(
        "a_est",
        "b_est",
        F.round(F.col("_inter").cast("double") * scale)
        .cast("long")
        .alias("inter_est"),
        F.round(F.col("_uni").cast("double") * scale)
        .cast("long")
        .alias("union_est"),
        F.expr("_inter * 1000000 DIV greatest(_uni, 1)").alias(
            "jaccard_ppm"
        ),
    )


def kmv_sketch_sql(source_sql: str, col: str) -> str:
    """DuckDB twin of kmv_sketch (a SELECT producing ``h``)."""
    lane = md5_lane_sql(col)
    return (
        f"SELECT DISTINCT (({lane}) % {_LANE_MOD} + {_LANE_MOD}) % {_LANE_MOD} AS h "
        f"FROM ({source_sql}) WHERE {col} IS NOT NULL ORDER BY h LIMIT {KMV_K}"
    )


def kmv_set_ops_sql(src_a: str, src_b: str, col: str) -> str:
    """DuckDB twin of kmv_set_ops over two source relations."""
    return f"""
WITH a_sk AS ({kmv_sketch_sql(src_a, col)}),
b_sk AS ({kmv_sketch_sql(src_b, col)}),
a_th AS (SELECT CASE WHEN count(*) >= {KMV_K} THEN max(h)
                     ELSE {_LANE_MOD} END AS theta_a FROM a_sk),
b_th AS (SELECT CASE WHEN count(*) >= {KMV_K} THEN max(h)
                     ELSE {_LANE_MOD} END AS theta_b FROM b_sk),
th AS (SELECT least(theta_a, theta_b) AS theta FROM a_th, b_th),
merged AS (
  SELECT COALESCE(a.h, b.h) AS h,
         CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM a_sk a FULL JOIN b_sk b ON a.h = b.h
),
counts AS (
  SELECT COALESCE(SUM(in_a * in_b), 0) AS _inter,
         COALESCE(count(*), 0) AS _uni
  FROM merged, th WHERE h < theta
),
a_est AS (
  SELECT CAST(round(CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                         ELSE {float((KMV_K - 1) * _LANE_MOD)!r} / CAST(max(h) AS DOUBLE)
                    END) AS BIGINT) AS a_est
  FROM a_sk
),
b_est AS (
  SELECT CAST(round(CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                         ELSE {float((KMV_K - 1) * _LANE_MOD)!r} / CAST(max(h) AS DOUBLE)
                    END) AS BIGINT) AS b_est
  FROM b_sk
)
SELECT a_est, b_est,
       CAST(round(CAST(_inter AS DOUBLE) * ({float(_LANE_MOD)!r} / CAST(theta AS DOUBLE)))
            AS BIGINT) AS inter_est,
       CAST(round(CAST(_uni AS DOUBLE) * ({float(_LANE_MOD)!r} / CAST(theta AS DOUBLE)))
            AS BIGINT) AS union_est,
       CAST(_inter * 1000000 // greatest(_uni, 1) AS BIGINT) AS jaccard_ppm
FROM counts, th, a_est, b_est
"""


# --- Misra-Gries mergeable heavy-hitter summary --------------------------
#
# The deterministic counterpart to Count-Min: a ≤MG_K-row (key, count)
# summary with the classic one-sided law est ≤ true ≤ est + threshold,
# threshold ≤ n/(k+1). Built from the exact (map-side-combinable)
# counts by the Mergeable Summaries reduction (Agarwal et al. 2012):
# subtract the (k+1)-th largest count from every counter and keep the
# positive ones — at most k survive by construction. Two summaries
# merge by summing counts (absent = 0) and re-truncating; the merged
# error is the sum of the inputs' thresholds plus the merge's own
# (pinned). Unlike CM the artifact carries the KEYS, so it answers
# "what are the heavy hitters" without a probe list.

MG_K = 16


def _mg_counts_thresh(
    counts: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """(truncated summary, 1-row thresh): the shared Mergeable-Summaries
    reduction over a (key, cnt) frame — threshold = the (k+1)-th
    largest count via TakeOrdered(k+1) broadcast back (never a global
    sort), summary = the strictly-above-threshold keys decremented."""
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(k + 1)
    thresh = top.agg(
        F.when(F.count(F.lit(1)) > F.lit(k), F.min("cnt"))
        .otherwise(F.lit(0))
        .alias("t")
    )
    summ = (
        counts.crossJoin(F.broadcast(thresh))
        .filter(F.col("cnt") > F.col("t"))
        .select(
            "key",
            (F.col("cnt") - F.col("t")).alias("mg_count"),
            F.col("t").alias("mg_threshold"),
        )
    )
    return summ, thresh


def _mg_counts(df: DataFrame, col: str) -> DataFrame:
    """(key, cnt) with NULL inputs excluded — NULL keys are reserved
    for the zone sentinel, and full-outer merges on a NULL key never
    match in either engine. Coalesce the column first if NULL is a
    meaningful value (the KMV contract)."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def mg_summary(df: DataFrame, col: str, k: int = MG_K) -> DataFrame:
    """(key, mg_count, mg_threshold): the Misra-Gries summary of
    ``col``. counts is one map-side-combinable groupBy; the threshold
    is the (k+1)-th largest count via TakeOrdered(k+1) — broadcast
    back as a 1-row frame, never a global sort. NULL inputs are
    excluded (see _mg_counts). NOTE: an all-tied batch yields an EMPTY
    summary whose threshold is unrecoverable — land mg_zone (summary +
    sentinel) anywhere the artifact will later be MERGED."""
    summ, _ = _mg_counts_thresh(_mg_counts(df, col), k)
    return summ


def mg_merge(z1: DataFrame, z2: DataFrame, k: int = MG_K) -> DataFrame:
    """Merge two ZONE-form summaries (mg_zone output: summary rows plus
    the NULL-key sentinel carrying the zone threshold): sum counts per
    non-NULL key, re-truncate by the merged set's (k+1)-th largest.
    Returns zone form again (merges compose); mg_threshold everywhere =
    t1 + t2 + t_merge — the total one-sided error bound vs the exact
    combined counts (pinned, INCLUDING empty-summary inputs: the
    sentinel is what keeps a lost input threshold in the bound).
    Plain mg_summary output is also accepted, but then an empty input
    frame contributes 0 to the bound — its threshold is already lost."""
    t1 = z1.agg(F.coalesce(F.max("mg_threshold"), F.lit(0)).alias("t1"))
    t2 = z2.agg(F.coalesce(F.max("mg_threshold"), F.lit(0)).alias("t2"))
    s1 = z1.filter(F.col("key").isNotNull())
    s2 = z2.filter(F.col("key").isNotNull())
    summed = (
        s1.select("key", F.col("mg_count").alias("c1"))
        .join(s2.select("key", F.col("mg_count").alias("c2")), "key", "full")
        .select(
            "key",
            (
                F.coalesce("c1", F.lit(0)) + F.coalesce("c2", F.lit(0))
            ).alias("cnt"),
        )
    )
    merged, tm = _mg_counts_thresh(summed, k)
    bound = (
        tm.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select((F.col("t") + F.col("t1") + F.col("t2")).alias("tb"))
    )
    out = merged.crossJoin(F.broadcast(bound)).select(
        F.col("key").cast("string").alias("key"),
        F.col("mg_count").cast("long").alias("mg_count"),
        F.col("tb").cast("long").alias("mg_threshold"),
    )
    sentinel = bound.select(
        F.lit(None).cast("string").alias("key"),
        F.lit(0).cast("long").alias("mg_count"),
        F.col("tb").cast("long").alias("mg_threshold"),
    )
    return out.unionByName(sentinel)


def mg_summary_sql(source_sql: str, col: str, k: int = MG_K) -> str:
    """DuckDB twin of mg_summary (SELECT key, mg_count, mg_threshold;
    NULL inputs excluded, mirroring _mg_counts)."""
    return f"""
SELECT key, cnt - t AS mg_count, t AS mg_threshold
FROM (SELECT {col} AS key, count(*) AS cnt FROM ({source_sql})
      WHERE {col} IS NOT NULL GROUP BY 1) counts,
     (SELECT CASE WHEN count(*) > {k} THEN min(cnt) ELSE 0 END AS t
      FROM (SELECT count(*) AS cnt FROM ({source_sql})
            WHERE {col} IS NOT NULL GROUP BY {col}
            ORDER BY cnt DESC, {col} LIMIT {k + 1}))
WHERE cnt > t
"""


def mg_summary_grouped(
    df: DataFrame, key: str, col: str, k: int = MG_K
) -> DataFrame:
    """(key, val, mg_count, mg_threshold): the Misra-Gries summary per
    GROUP — a group's rows are bit-identical to running mg_summary on
    its slice (pinned): the per-group threshold is the (k+1)-th largest
    count within the group via a key-partitioned rank window over the
    counts frame (distinct (key, val) rows, never the input). NULL
    group keys and NULL values are excluded (the _mg_counts law)."""
    counts = (
        df.filter(F.col(key).isNotNull() & F.col(col).isNotNull())
        .groupBy(F.col(key).alias("key"), F.col(col).alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("key").orderBy(F.desc("cnt"), F.asc("val"))
    thresh = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == F.lit(k + 1))
        .select("key", F.col("cnt").alias("t"))
    )
    return (
        counts.join(thresh, "key", "left")
        .withColumn("t", F.coalesce("t", F.lit(0)))
        .filter(F.col("cnt") > F.col("t"))
        .select(
            "key",
            "val",
            (F.col("cnt") - F.col("t")).alias("mg_count"),
            F.col("t").alias("mg_threshold"),
        )
    )


def mg_summary_grouped_sql(
    source_sql: str, key: str, col: str, k: int = MG_K
) -> str:
    """DuckDB twin of mg_summary_grouped."""
    return f"""
WITH counts AS (
  SELECT {key} AS key, {col} AS val, count(*) AS cnt
  FROM ({source_sql})
  WHERE {key} IS NOT NULL AND {col} IS NOT NULL GROUP BY 1, 2
),
thresh AS (
  SELECT key, cnt AS t FROM (
    SELECT key, cnt,
           row_number() OVER (PARTITION BY key
                              ORDER BY cnt DESC, val) AS _rn
    FROM counts
  ) WHERE _rn = {k + 1}
)
SELECT counts.key, val, cnt - COALESCE(t, 0) AS mg_count,
       COALESCE(t, 0) AS mg_threshold
FROM counts LEFT JOIN thresh ON counts.key = thresh.key
WHERE cnt > COALESCE(t, 0)
"""


def mg_zone(df: DataFrame, col: str, k: int = MG_K) -> DataFrame:
    """mg_summary plus a (key = NULL, mg_count = 0, mg_threshold = t)
    sentinel row — the landable zone form: a batch whose summary is
    EMPTY (every count tied at or below the (k+1)-th largest) still
    records its error contribution t, which the rolling fold must add
    to the merged bound (readers drop the NULL key after summing).
    NULL inputs are excluded from the counts (see _mg_counts), so the
    sentinel key is unambiguous."""
    summ, thresh = _mg_counts_thresh(_mg_counts(df, col), k)
    sentinel = thresh.select(
        F.lit(None).cast("string").alias("key"),
        F.lit(0).cast("long").alias("mg_count"),
        F.col("t").cast("long").alias("mg_threshold"),
    )
    return summ.select(
        F.col("key").cast("string").alias("key"),
        F.col("mg_count").cast("long").alias("mg_count"),
        F.col("mg_threshold").cast("long").alias("mg_threshold"),
    ).unionByName(sentinel)


def kmv_sketch_grouped(df: DataFrame, key: str, col: str) -> DataFrame:
    """(key, h): the KMV sketch per GROUP — ≤ KMV_K smallest distinct
    hashes within each key via a key-partitioned rank window over the
    distinct (key, h) frame (the mg_summary_grouped shape; a group's
    rows are bit-identical to the ungrouped sketch of its slice)."""
    hashes = (
        df.select(
            F.col(key).alias("key"),
            F.pmod(md5_lane(F.col(col)), F.lit(_LANE_MOD)).alias("h"),
        )
        .filter(F.col("key").isNotNull() & F.col("h").isNotNull())
        .groupBy("key", "h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("key", "h")
    )
    w = Window.partitionBy("key").orderBy("h")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(KMV_K))
        .select("key", "h")
    )


def kmv_pairwise_matrix(df: DataFrame, key: str, col: str) -> DataFrame:
    """(key_a, key_b, inter_est, union_est, jaccard_ppm): theta-sketch
    set operations for EVERY unordered group pair from ONE grouped
    sketch build — the cross-source overlap matrix a curation pipeline
    reads to plan dedup order. Everything after the grouped sketch
    runs on ≤ |groups|·KMV_K rows: per-pair theta = min of the two
    group thetas; candidates below theta tagged by side; the same
    |sample|/theta scale-up as kmv_set_ops."""
    from hadoop_ozone_spark import scratch

    scratch.fresh("kmv_matrix")
    sk = scratch.keep("kmv_matrix", kmv_sketch_grouped(df, key, col))
    th = sk.groupBy("key").agg(
        F.when(F.count(F.lit(1)) >= F.lit(KMV_K), F.max("h"))
        .otherwise(F.lit(_LANE_MOD))
        .alias("theta")
    )
    a, b = th.alias("a"), th.alias("b")
    pairs = (
        a.join(b, F.col("a.key") < F.col("b.key"))
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.least("a.theta", "b.theta").alias("theta"),
        )
    )
    cand = (
        F.broadcast(pairs)
        .join(
            sk,
            (F.col("key") == F.col("key_a")) | (F.col("key") == F.col("key_b")),
        )
        .filter(F.col("h") < F.col("theta"))
        .groupBy("key_a", "key_b", "theta", "h")
        .agg(
            F.max((F.col("key") == F.col("key_a")).cast("int")).alias("ia"),
            F.max((F.col("key") == F.col("key_b")).cast("int")).alias("ib"),
        )
    )
    counts = cand.groupBy("key_a", "key_b", "theta").agg(
        F.coalesce(F.sum(F.col("ia") * F.col("ib")), F.lit(0)).alias("_inter"),
        F.count(F.lit(1)).alias("_uni"),
    )
    # pairs whose below-theta sample is empty drop out of the groupBy —
    # re-anchor on the pairs frame so the matrix is always complete
    counts = pairs.join(
        F.broadcast(counts), ["key_a", "key_b", "theta"], "left"
    ).select(
        "key_a",
        "key_b",
        "theta",
        F.coalesce("_inter", F.lit(0)).alias("_inter"),
        F.coalesce("_uni", F.lit(0)).alias("_uni"),
    )
    scale = F.lit(float(_LANE_MOD)) / F.col("theta").cast("double")
    return counts.select(
        "key_a",
        "key_b",
        F.round(F.col("_inter").cast("double") * scale).cast("long").alias("inter_est"),
        F.round(F.col("_uni").cast("double") * scale).cast("long").alias("union_est"),
        F.expr("_inter * 1000000 DIV greatest(_uni, 1)").alias("jaccard_ppm"),
    )


def kmv_pairwise_matrix_sql(source_sql: str, key: str, col: str) -> str:
    """DuckDB twin of kmv_pairwise_matrix."""
    lane = md5_lane_sql(col)
    return f"""
WITH vals AS ({source_sql}),
hashes AS (
  SELECT DISTINCT {key} AS key,
         (({lane}) % {_LANE_MOD} + {_LANE_MOD}) % {_LANE_MOD} AS h
  FROM vals
  WHERE {key} IS NOT NULL AND {col} IS NOT NULL
),
sk AS (
  SELECT key, h FROM (
    SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS _rn
    FROM hashes
  ) WHERE _rn <= {KMV_K}
),
th AS (
  SELECT key, CASE WHEN count(*) >= {KMV_K} THEN max(h)
                   ELSE {_LANE_MOD} END AS theta
  FROM sk GROUP BY key
),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b, least(a.theta, b.theta) AS theta
  FROM th a JOIN th b ON a.key < b.key
),
cand AS (
  SELECT key_a, key_b, theta, h,
         max(CASE WHEN sk.key = key_a THEN 1 ELSE 0 END) AS ia,
         max(CASE WHEN sk.key = key_b THEN 1 ELSE 0 END) AS ib
  FROM pairs JOIN sk ON sk.key IN (key_a, key_b)
  WHERE h < theta
  GROUP BY key_a, key_b, theta, h
),
counts AS (
  SELECT key_a, key_b, theta,
         COALESCE(SUM(ia * ib), 0) AS _inter, count(*) AS _uni
  FROM cand GROUP BY key_a, key_b, theta
),
anchored AS (
  SELECT p.key_a, p.key_b, p.theta,
         COALESCE(_inter, 0) AS _inter, COALESCE(_uni, 0) AS _uni
  FROM pairs p LEFT JOIN counts c
    ON p.key_a = c.key_a AND p.key_b = c.key_b
)
SELECT key_a, key_b,
       CAST(round(CAST(_inter AS DOUBLE) * ({float(_LANE_MOD)!r} / CAST(theta AS DOUBLE)))
            AS BIGINT) AS inter_est,
       CAST(round(CAST(_uni AS DOUBLE) * ({float(_LANE_MOD)!r} / CAST(theta AS DOUBLE)))
            AS BIGINT) AS union_est,
       CAST(_inter * 1000000 // greatest(_uni, 1) AS BIGINT) AS jaccard_ppm
FROM anchored
"""


# ---------------------------------------------------------------------------
# Mergeable uniform reservoir sample — bottom-k-by-hash over ROW identity.
#
# The sixth mergeable write-time artifact (HLL / CM / Bloom / QS / KMV /
# RSV): an EXACT-k uniform sample of rows, reproducible and mergeable.
# Where KMV keeps the k smallest hashes of the DISTINCT VALUES of a
# column (a cardinality sketch), the reservoir keys the draw on row
# IDENTITY — each row gets an iid uniform draw h = lane(seed#id), and
# the k smallest draws are a uniform k-subset of the rows (bottom-k
# sampling; the distributed, deterministic form of reservoir sampling —
# Vitter 1985 gives the sequential algorithm, the bottom-k-by-hash
# reformulation is the standard mergeable equivalent, e.g. Cohen &
# Kaplan 2007). Merge = union-then-k-smallest, EXACT by the KMV
# argument: a globally k-smallest draw is k-smallest within its own
# zone. This is the op that carves a fixed-size eval/inspection slice
# out of an unbounded corpus and keeps it consistent as zones land —
# re-running over corpus ∪ delta only ever swaps members whose draws
# are displaced by smaller delta draws.
#
# Contract: ``id_col`` must identify rows (a duplicated id draws the
# same h and the duplicates travel together). Changing ``seed`` is a
# fresh independent sample.
# ---------------------------------------------------------------------------

RSV_K = 256


def reservoir_draw(id_col: Column, seed: str) -> Column:
    """The engine-portable uniform draw for one row: the md5 lane of
    'seed#id' folded into [0, 2^59) — the same lane law every sketch
    here shares. DuckDB twin: md5_lane_sql over the same concat."""
    return F.pmod(
        md5_lane(F.concat(F.lit(seed), F.lit("#"), id_col.cast("string"))),
        F.lit(_LANE_MOD),
    )


def reservoir_sample(
    df: DataFrame, id_col: str = "doc_id", k: int = RSV_K, seed: str = "rsv"
) -> DataFrame:
    """(h, doc_id): the ``k`` rows with the smallest draws — an exact-k
    uniform row sample. orderBy+limit compiles to
    TakeOrderedAndProject (per-partition bottom-k, merged at the
    driver) — never a global sort; the artifact never exceeds k rows.
    Ties (a lane collision) break on the id, so the sample is a pure
    function of (row set, seed) — partition- and order-independent."""
    return (
        df.select(
            reservoir_draw(F.col(id_col), seed).alias("h"),
            F.col(id_col).alias("doc_id"),
        )
        .orderBy("h", "doc_id")
        .limit(k)
    )


def reservoir_sample_grouped(
    df: DataFrame,
    key: str,
    id_col: str = "doc_id",
    k: int = RSV_K,
    seed: str = "rsv",
) -> DataFrame:
    """(key, h, doc_id): the exact-k uniform sample per GROUP via a
    key-partitioned rank window (the kmv_sketch_grouped shape —
    compiles to WindowGroupLimit with a Partial map-side pass, so a
    hot group never forces its full row set through one task); a
    group's rows are bit-identical to the ungrouped sample of its
    slice."""
    drawn = df.select(
        F.col(key).alias("key"),
        reservoir_draw(F.col(id_col), seed).alias("h"),
        F.col(id_col).alias("doc_id"),
    ).filter(F.col("key").isNotNull())
    w = Window.partitionBy("key").orderBy("h", "doc_id")
    return (
        drawn.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(k))
        .select("key", "h", "doc_id")
    )


def reservoir_draw_sql(id_expr: str, seed: str) -> str:
    """DuckDB twin of reservoir_draw. ``seed`` is interpolated into a
    SQL string literal, so embedded quotes are doubled (the one SQL
    escape DuckDB and Spark share); ``id_expr`` is a caller-owned SQL
    expression and is trusted as-is."""
    safe_seed = seed.replace("'", "''")
    lane = md5_lane_sql(f"concat('{safe_seed}#', CAST({id_expr} AS VARCHAR))")
    return f"((({lane}) % {_LANE_MOD}) + {_LANE_MOD}) % {_LANE_MOD}"


def reservoir_sample_sql(
    source_sql: str, id_expr: str, k: int, seed: str = "rsv"
) -> str:
    """DuckDB twin of reservoir_sample (a SELECT producing h, doc_id)."""
    return (
        f"SELECT {reservoir_draw_sql(id_expr, seed)} AS h,"
        f" {id_expr} AS doc_id FROM ({source_sql})"
        f" ORDER BY h, doc_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# WEIGHTED mergeable reservoir — A-ExpJ / Efraimidis–Spirakis (2006) in
# the deterministic bottom-k-by-hash reformulation.
#
# The seventh write-time artifact: an exact-k sample WITHOUT replacement
# where a row's inclusion odds are proportional to a per-row weight —
# the quality- or token-budget-weighted eval slice a curation run wants
# ("sample docs proportional to token count so the slice represents the
# token distribution, not the document count distribution").
#
# The law (ES 2006, exponential-race form): each row draws
# u_i ~ Uniform(0,1) and races with key_i = -ln(u_i)/w_i ~ Exp(w_i);
# the k SMALLEST keys are an ES weighted k-sample without replacement
# (selecting the k largest u_i^(1/w_i) is the same set — -ln/w is a
# monotone transform). Merge = union-then-k-smallest-keys, EXACT by the
# same argument as the uniform reservoir: a globally k-smallest key is
# k-smallest within its own zone, so zones fold losslessly.
#
# Portability discipline: u_i is built from the md5 lane with ONLY
# IEEE-exact double ops — CAST(lane AS DOUBLE) (round-to-nearest,
# identical in JVM and DuckDB), + 0.5 (exact at this magnitude's scale
# rounding, again IEEE-identical), / 2^59 (exact power-of-two scaling) —
# so u is bit-identical across engines. The single non-exact op is ln
# (both engines are within 1 ulp of true); the float key is used for
# ORDERING only and never output, so a last-ulp disagreement could
# matter only if two rows' true keys straddle the k boundary within
# ~1e-16 relative — vanishing at any real corpus size, and the (key,
# id) tie-break makes exact lane collisions deterministic anyway.
# ---------------------------------------------------------------------------


def weighted_reservoir_key(id_col: Column, weight_col: Column, seed: str) -> Column:
    """The ES exponential race key -ln(u)/w as a DOUBLE column. ``u`` =
    (lane + 0.5) / 2^59 ∈ (0,1) — never 0 or 1, so ln is finite and the
    key positive. ``weight_col`` is clamped to ≥ 1 (a weightless row
    still races, at the floor odds — mirrors greatest(w, 1) in the
    twin)."""
    u = (reservoir_draw(id_col, seed).cast("double") + F.lit(0.5)) / F.lit(
        float(_LANE_MOD)
    )
    w = F.greatest(weight_col.cast("double"), F.lit(1.0))
    return -F.log(u) / w


def weighted_reservoir_bottomk(
    df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    k: int = RSV_K,
    seed: str = "wrsv",
) -> DataFrame:
    """(_key, doc_id, weight): the k rows with the smallest exponential
    race keys, KEY KEPT — the mergeable zone artifact the stream twin
    persists (zones fold by union-then-k-smallest over the stored
    keys; Spark both writes and reads the double, so the fold sees the
    exact bits the build computed). orderBy+limit compiles to
    TakeOrderedAndProject — per-partition bottom-k, never a global
    sort; artifact ≤ k rows."""
    keyed = df.select(
        weighted_reservoir_key(F.col(id_col), F.col(weight_col), seed).alias(
            "_key"
        ),
        F.col(id_col).alias("doc_id"),
        F.greatest(F.col(weight_col).cast("long"), F.lit(1)).alias("weight"),
    )
    return keyed.orderBy("_key", "doc_id").limit(k)


def weighted_reservoir_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    k: int = RSV_K,
    seed: str = "wrsv",
) -> DataFrame:
    """(doc_id, weight): the ES weighted k-sample — the k rows with the
    smallest exponential race keys. The float key orders but is not
    output (see the portability note above); output is deterministic
    integer columns, sorted by doc_id for the order-sensitive
    consumer."""
    return (
        weighted_reservoir_bottomk(df, id_col, weight_col, k, seed)
        .select("doc_id", "weight")
        .orderBy("doc_id")
    )


def weighted_reservoir_grouped(
    df: DataFrame,
    key: str,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    k: int = RSV_K,
    seed: str = "wrsv",
) -> DataFrame:
    """(key, doc_id, weight): the ES weighted k-sample per GROUP via the
    key-partitioned rank window (WindowGroupLimit-Partial — the hot
    group never funnels its full row set through one task); a group's
    rows are bit-identical to the ungrouped sample of its slice."""
    keyed = df.select(
        F.col(key).alias("key"),
        weighted_reservoir_key(F.col(id_col), F.col(weight_col), seed).alias(
            "_key"
        ),
        F.col(id_col).alias("doc_id"),
        F.greatest(F.col(weight_col).cast("long"), F.lit(1)).alias("weight"),
    ).filter(F.col("key").isNotNull())
    w = Window.partitionBy("key").orderBy("_key", "doc_id")
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(k))
        .select("key", "doc_id", "weight")
        .orderBy("key", "doc_id")
    )


def weighted_reservoir_key_sql(id_expr: str, weight_expr: str, seed: str) -> str:
    """DuckDB twin of weighted_reservoir_key — the same IEEE-exact u
    construction, DuckDB's ln, the same ≥1 weight clamp."""
    lane = reservoir_draw_sql(id_expr, seed)
    return (
        f"(-ln((CAST(({lane}) AS DOUBLE) + 0.5) / {float(_LANE_MOD)!r})"
        f" / greatest(CAST({weight_expr} AS DOUBLE), 1.0))"
    )
