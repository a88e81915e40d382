"""Distributed probabilistic sketches: HyperLogLog and Count-Min.

Not in the reference (it is a connector); part of the training-data
pipeline surface (BASELINE.json north star): cardinality and frequency
estimation are the two sketches a 100 TB pipeline runs constantly
(vocabulary sizing, dedup-rate monitoring, heavy-hitter token caps).

Both sketches here are built from the portable 60-bit md5 hash family
(functions/porthash.py), so every register / counter value — and
therefore the final estimates — are BIT-IDENTICALLY reproducible by the
DuckDB oracle. Spark's own approx_count_distinct cannot be
oracle-checked (engine-private HLL++ registers); this one can.

Scale design
------------
- hll_registers is ONE map-side-combinable groupBy((group, bucket),
  max(rho)): the shuffle moves at most m=2^p rows per group per map
  task, regardless of input size. Registers MERGE by max — the property
  that lets a 1000-executor cluster sketch per partition and combine,
  and lets daily sketches roll up into monthly ones. hll_merge +
  the estimate being a pure function of registers makes that explicit.
- The estimator avoids BOTH classic non-determinism traps:
  * Z = sum(2^-M_j) is computed in INTEGER arithmetic (terms scaled by
    2^55 and summed as BIGINT — exact, order-independent), because a
    distributed double sum has nondeterministic addition order;
  * the low-cardinality linear-counting branch (m*ln(m/V)) is omitted —
    ln() is libm-dependent across engines — so this is the original
    raw HLL estimator; callers should size p so expected cardinality
    >= ~2.5*m (p is a parameter).
- countmin counters are ONE groupBy((row, col)) count — d*w cells
  total, additive under union (mergeable the same way). Probing joins
  candidates against the tiny sketch (broadcast by size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rocketmq_flink_spark.functions.porthash import (
    P31,
    _const,
    affine31,
    affine31_sql,
    hash31,
    hash31_sql,
    hash60,
    hash60_sql,
)

HLL_BASE_BITS = 60  # width of the portable md5 base hash


def _hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_bucket_rho(value: Column, p: int = 6) -> tuple[Column, Column]:
    """The (bucket, rho) projection of one value under the portable
    60-bit hash — the md5-heavy part of hll_registers, exposed so a
    caller sketching the SAME values under several groupings (say,
    full vs sharded registers) can hash once and aggregate many ways
    (optimization r08).

    bucket = top p bits of the 60-bit portable hash; rho = 1-based
    position of the leftmost set bit in the remaining width=60-p bits
    (width+1 when they are all zero) — computed exactly via the binary
    string length (floor(log2) in integer domain), no floating point."""
    width = HLL_BASE_BITS - p
    base = hash60(value)
    bucket = F.shiftright(base, width).alias("bucket")
    rest = base % F.lit(1 << width).cast("long")
    rho = (
        F.when(rest == 0, F.lit(width + 1))
        .otherwise(F.lit(width + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    return bucket, rho


def hll_registers(
    df: DataFrame, value: Column, group_cols: list[str], p: int = 6
) -> DataFrame:
    """HLL registers per group: (group..., bucket, m) with m = max rho.
    See hll_bucket_rho for the exact hash/bucket/rho construction."""
    bucket, rho = hll_bucket_rho(value, p)
    return df.groupBy(*group_cols, bucket).agg(F.max(rho).alias("m"))


def hll_merge(reg: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge registers that were sketched separately (e.g. per shard or
    per day): max per (group, bucket). Lossless — merged registers are
    identical to sketching the union directly."""
    return reg.groupBy(*group_cols, "bucket").agg(F.max("m").alias("m"))


def hll_estimate(
    reg: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Raw HLL estimate per group from a register frame.

    Z is assembled in exact BIGINT arithmetic: each register contributes
    2^(S-M_j) with S = width+1, absent buckets contribute 2^S, so
    Z_scaled = sum + (m - n_buckets) * 2^S and
    E = alpha * m^2 * 2^S / Z_scaled with one double division at the
    end — deterministic regardless of row order or partitioning."""
    m = 1 << p
    width = HLL_BASE_BITS - p
    s = width + 1
    # SQL-text shiftleft: the Python F.shiftleft only takes a literal
    # shift amount, but Catalyst's ShiftLeft accepts a column.
    zs = (
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - m)"))
        + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << s).cast("long")
    )
    alpha = _hll_alpha(m)
    est = F.round(
        F.lit(alpha * m * m) * F.lit(float(1 << s)) / zs.cast("double"), 4
    )
    return reg.groupBy(*group_cols).agg(est.alias("est_distinct"))


def hll_registers_sql(
    value_expr: str, from_clause: str, group_expr: str, p: int = 6
) -> str:
    """DuckDB replay of hll_registers (same bucket/rho arithmetic)."""
    width = HLL_BASE_BITS - p
    base = hash60_sql(value_expr)
    return f"""
      SELECT {group_expr} AS grp,
             ({base} >> {width}) AS bucket,
             MAX(CASE WHEN ({base} % {1 << width}::BIGINT) = 0
                      THEN {width + 1}
                      ELSE {width + 1}
                           - length(bin({base} % {1 << width}::BIGINT))
                 END) AS m
      {from_clause}
      GROUP BY 1, 2
    """


def hll_estimate_sql(registers_cte: str, p: int = 6) -> str:
    """DuckDB replay of hll_estimate over a (grp, bucket, m) CTE."""
    m = 1 << p
    s = HLL_BASE_BITS - p + 1
    alpha = _hll_alpha(m)
    return f"""
      SELECT grp,
             ROUND({alpha * m * m!r} * {float(1 << s)!r}
                   / CAST(CAST(SUM(1::BIGINT << ({s} - m)) AS BIGINT)
                          + ({m} - COUNT(*)) * {1 << s}::BIGINT AS DOUBLE),
                   4) AS est_distinct
      FROM {registers_cte} GROUP BY grp
    """


# --- Count-Min ------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 256  # counter columns per row


def cm_coeffs(d: int = CM_D) -> list[tuple[int, int]]:
    """Fixed universal-family coefficients for the d counter rows
    (independent tag from the MinHash family)."""
    return [
        (_const("cm-a", j, 1, P31), _const("cm-b", j, 0, P31))
        for j in range(d)
    ]


def countmin_sketch(
    tokens: DataFrame, token_col: str, d: int = CM_D, w: int = CM_W
) -> DataFrame:
    """Count-Min counters (r, c, cnt) over a token column: d*w cells,
    one map-side-combined groupBy. Counters are additive — sketches of
    shards merge by summing cell-wise."""
    coeffs = cm_coeffs(d)
    x = hash31(F.col(token_col))
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("r"),
                    (affine31(x, a, b) % w).cast("int").alias("c"),
                )
                for j, (a, b) in enumerate(coeffs)
            ]
        )
    ).alias("cell")
    return (
        tokens.select(cells)
        .select("cell.r", "cell.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_probe(
    sketch: DataFrame,
    candidates: DataFrame,
    token_col: str,
    d: int = CM_D,
    w: int = CM_W,
) -> DataFrame:
    """Point-query the sketch for each candidate token: est = min over
    the d rows of the addressed counter. The sketch is at most d*w rows
    — broadcast side of the join by construction."""
    coeffs = cm_coeffs(d)
    x = hash31(F.col(token_col))
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("r"),
                    (affine31(x, a, b) % w).cast("int").alias("c"),
                )
                for j, (a, b) in enumerate(coeffs)
            ]
        )
    ).alias("cell")
    return (
        candidates.select(F.col(token_col), cells)
        .select(token_col, "cell.r", "cell.c")
        .join(F.broadcast(sketch), ["r", "c"])
        .groupBy(token_col)
        .agg(F.min("cnt").alias("cm_est"))
    )


def countmin_cells_sql(x31_expr: str, d: int = CM_D, w: int = CM_W) -> str:
    """DuckDB: LIST of [row, col] cell addresses for a token hash."""
    parts = ", ".join(
        f"[{j}, {affine31_sql(x31_expr, a, b)} % {w}]"
        for j, (a, b) in enumerate(cm_coeffs(d))
    )
    return f"[{parts}]"


# --- Histogram quantile sketch --------------------------------------------

HIST_BINS = 256


def hist_bins(
    df: DataFrame,
    value: Column,
    group_cols: list[str],
    lo: Column,
    hi: Column,
    nbins: int = HIST_BINS,
) -> DataFrame:
    """Equi-width histogram counters per group: (group..., bin, cnt),
    bin = clamp(floor((v - lo) * nbins / (hi - lo))). The quantile
    member of the sketch trio (HLL = cardinality, Count-Min =
    frequency, histogram = order statistics): ONE map-side-combined
    groupBy whose shuffle moves at most nbins rows per group per map
    task, and shard histograms MERGE by bin-wise count sum — the
    rollup property that lets per-partition/per-day sketches combine
    without re-reading data. Bin arithmetic is plain IEEE double
    multiply/divide/floor — bit-identical across engines — and
    everything after it is exact BIGINT."""
    b = F.floor((value - lo) * F.lit(nbins) / (hi - lo)).cast("int")
    bin_col = F.least(F.greatest(b, F.lit(0)), F.lit(nbins - 1)).alias("bin")
    return (
        df.where(value.isNotNull())
        .select(*group_cols, bin_col)
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    lo: Column,
    hi: Column,
    quantiles: list[tuple[str, int, int]] = (
        ("p50", 50, 100),
        ("p95", 95, 100),
        ("p99", 99, 100),
    ),
    nbins: int = HIST_BINS,
) -> DataFrame:
    """Quantile estimates from a histogram frame: for q = num/den the
    estimate is the center of the first bin whose cumulative count
    reaches ceil(q * N) — the threshold is computed in EXACT integer
    arithmetic ((N*num + den - 1) div den; integer division truncates
    identically on positives in both engines), the cumulative window runs over
    at most nbins rows per group, and only the final bin-center
    conversion touches doubles. Error is bounded by one bin width by
    construction ((hi-lo)/nbins), the trade every histogram sketch
    makes for mergeability."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*group_cols))
    )
    aggs = [F.max("n").alias("n_rows")]
    width = (hi - lo) / F.lit(nbins)
    for name, num, den in quantiles:
        thr = F.expr(f"(n * {num} + {den} - 1) div {den}")
        qbin = F.min(F.when(F.col("cum") >= thr, F.col("bin")))
        aggs.append(qbin.alias(f"{name}_bin"))
    out = cum.groupBy(*group_cols).agg(*aggs)
    for name, _, _ in quantiles:
        out = out.withColumn(
            f"{name}_est",
            F.round(
                lo + (F.col(f"{name}_bin") + F.lit(0.5)) * width, 6
            ),
        )
    return out


# --- Bloom filter ---------------------------------------------------------

BLOOM_M = 1 << 18  # filter bits
BLOOM_K = 4  # hash functions


def bloom_coeffs(k: int = BLOOM_K) -> list[tuple[int, int]]:
    """Fixed universal-family coefficients for the k bit positions."""
    return [
        (_const("bloom-a", j, 1, P31), _const("bloom-b", j, 0, P31))
        for j in range(k)
    ]


def _bloom_positions(value: Column, m: int, k: int) -> Column:
    """Array of the k bit positions for a value (exploded by callers)."""
    x = hash31(value)
    return F.array(
        *[(affine31(x, a, b) % m).cast("long") for (a, b) in bloom_coeffs(k)]
    )


def bloom_build(
    df: DataFrame, value: Column, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Build a Bloom filter over a value column as (word, bits) rows:
    word = position >> 5, bits = OR of 32-bit lanes (stored in BIGINT —
    32-bit words keep every value positive, dodging the engines'
    differing signed-shift overflow behavior at bit 63).

    ONE map-side-combinable groupBy: the shuffle moves at most m/32
    (word, partial-or) rows per map task regardless of input size, and
    filters built on shards MERGE by OR-ing word-wise — the property
    that lets each executor sketch its partition and a 1000-node
    cluster combine 8 KB filters instead of re-reading the data.
    Every bit position comes from the portable hash family, so the
    DuckDB oracle rebuilds the identical filter (bloom_words_sql)."""
    pos = F.explode(_bloom_positions(value, m, k)).alias("pos")
    return (
        df.select(pos)
        .selectExpr(
            "pos >> 5 AS word",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos & 31 AS INT)) AS bv",
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bv)").alias("bits"))
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    value: Column,
    key_cols: list[str],
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Membership-test each candidate row's value against the filter:
    returns key_cols + `bloom_hit` (true iff ALL k addressed bits are
    set — i.e. definitely-maybe; false = definitely absent, the Bloom
    guarantee of no false negatives).

    The filter is at most m/32 rows (8 KB at the default m) — broadcast
    side of the join by construction; the candidate stream shuffles
    only for its own (key, position) aggregation."""
    pos = F.posexplode(_bloom_positions(value, m, k)).alias("j", "pos")
    probed = (
        candidates.select(*key_cols, pos)
        .selectExpr(
            *key_cols,
            "j",
            "pos >> 5 AS word",
            "CAST(pos & 31 AS INT) AS bit",
        )
        .join(F.broadcast(bloom), "word", "left")
        .selectExpr(
            *key_cols,
            "j",
            "CASE WHEN bits IS NULL THEN 0"
            " ELSE CAST(shiftright(bits, bit) & 1 AS INT) END AS hit",
        )
    )
    # count DISTINCT probe indexes that hit: keys occurring in several
    # candidate rows would otherwise sum to 2k != k and report a false
    # negative, violating the Bloom guarantee
    return probed.groupBy(*key_cols).agg(
        (
            F.count_distinct(F.when(F.col("hit") == 1, F.col("j")))
            == F.lit(k)
        ).alias("bloom_hit")
    )


def bloom_filter_words(bloom: DataFrame, m: int = BLOOM_M) -> list[int]:
    """Collect a built filter to its dense word list (m/32 ints —
    8 KB at the default m; a MODEL artifact like a centroid table, not
    data, so the driver hop is bounded by the filter size choice)."""
    words = [0] * (m >> 5)
    for r in bloom.collect():
        words[r["word"]] = int(r["bits"])
    return words


def with_bloom_hit(
    df: DataFrame,
    value_col: str,
    words: list[int],
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Membership test as a PURE scalar expression over an INLINED
    filter: the word list becomes one constant-folded array literal
    (parsed JVM-side as a single SQL text — no per-element py4j
    traffic), each of the k probes is element_at + shift/and on it —
    no join, no shuffle, no Python in the row path. This is the fast
    path for filters that fit a plan literal (up to a few MB, i.e.
    m up to ~2^24); beyond that, use bloom_probe's broadcast join.
    SQL text is used because Catalyst's shiftright accepts a column
    shift amount while the Python wrapper only takes a literal."""
    arr_sql = "array(" + ",".join(f"{int(w)}L" for w in words) + ")"
    out = df.withColumn("_bfw", F.expr(arr_sql)).withColumn(
        "_x31", hash31(F.col(value_col))
    )
    probes = []
    for a, b in bloom_coeffs(k):
        pos = f"((({a}L * _x31 + {b}L) % 2147483647) % {m})"
        word = f"element_at(_bfw, CAST(shiftright({pos}, 5) AS INT) + 1)"
        probes.append(
            f"((shiftright({word}, CAST({pos} % 32 AS INT)) & 1) = 1)"
        )
    return out.withColumn(out_col, F.expr(" AND ".join(probes))).drop(
        "_bfw", "_x31"
    )


def bloom_words_sql(
    value_expr: str, from_clause: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> str:
    """DuckDB replay of bloom_build: (word, bits) rows."""
    x = hash31_sql(value_expr)
    pos_list = ", ".join(
        f"{affine31_sql(x, a, b)} % {m}" for (a, b) in bloom_coeffs(k)
    )
    return f"""
      SELECT pos >> 5 AS word,
             bit_or(1::BIGINT << CAST(pos & 31 AS INTEGER)) AS bits
      FROM (SELECT unnest([{pos_list}]) AS pos {from_clause})
      GROUP BY 1
    """


def bloom_positions_sql(
    value_expr: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> str:
    """DuckDB: LIST of the k bit positions for a value expression."""
    x = hash31_sql(value_expr)
    return (
        "["
        + ", ".join(
            f"{affine31_sql(x, a, b)} % {m}" for (a, b) in bloom_coeffs(k)
        )
        + "]"
    )


__all__ = [
    "hll_registers",
    "hll_merge",
    "hll_estimate",
    "hll_registers_sql",
    "hll_estimate_sql",
    "cm_coeffs",
    "countmin_sketch",
    "countmin_probe",
    "countmin_cells_sql",
    "CM_D",
    "CM_W",
    "bloom_coeffs",
    "bloom_build",
    "bloom_probe",
    "bloom_filter_words",
    "with_bloom_hit",
    "bloom_words_sql",
    "bloom_positions_sql",
    "BLOOM_M",
    "BLOOM_K",
    "hist_bins",
    "hist_quantiles",
    "HIST_BINS",
]


# ---------------------------------------------------------------------------
# Bottom-k (KMV) distinct sketch
# ---------------------------------------------------------------------------


def bottomk_sketch(
    df,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    salt_buckets: int = 32,
):
    """Bottom-k (k-minimum-values) distinct sketch per group: the k
    smallest 60-bit hashes of value_col, as a sorted array column
    `kmv`. The fourth mergeable sketch (HLL / Count-Min / histogram /
    KMV): union = bottom-k of the concatenated arrays, so per-shard
    sketches combine exactly (test_bottomk_merge_equals_direct).

    Scale shape: distinct (group, hash) first (map-side combinable),
    then a SALTED two-phase bottom-k — a per-(group, hash%32) window
    keeps k rows max per salted cell, and the final per-group combine
    aggregates at most 32*k values into one bounded buffer. A direct
    collect_list-per-group would buffer EVERY distinct value of a hot
    group; a direct global window would funnel the hot group through
    one task. Never more than salt_buckets*k values in any buffer.
    """
    from pyspark.sql import Window

    from rocketmq_flink_spark.functions.porthash import hash60

    d = df.select(
        *group_cols, hash60(F.col(value_col).cast("string")).alias("h")
    ).distinct()
    salted = d.withColumn("_s", F.pmod(F.col("h"), F.lit(salt_buckets)))
    w = Window.partitionBy(*group_cols, "_s").orderBy("h")
    part = salted.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    return part.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("kmv")
    )


def bottomk_estimate(sk, k: int = 64):
    """Distinct-count estimate from a KMV sketch column: when the
    sketch is full, est = (k-1) * 2^60 // kmv[k] (the classic KMV
    estimator, integer floor division — engine-neutral); when fewer
    than k distinct values exist the sketch IS the exact set and the
    estimate is its size."""
    full = F.size(F.col("kmv")) >= k
    kth = F.element_at(F.col("kmv"), k)
    est = F.expr(
        f"CAST(CAST({(k - 1) * (1 << 60)} AS DECIMAL(38,0))"
        f" div CAST(element_at(kmv, {k}) AS DECIMAL(38,0)) AS BIGINT)"
    )
    return sk.withColumn(
        "est_distinct",
        F.when(full & (kth > 0), est).otherwise(F.size("kmv").cast("long")),
    )
