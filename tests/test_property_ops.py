"""Property-based tests (hypothesis) for the round-2 operators: the
punctuated-watermark filter, sequence packing, and stratified sampling
are each checked against an independent pure-Python reference model on
arbitrary inputs — a stronger guarantee than fixture-pinned examples.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# smallest fixture SF — module-level like tests/test_operators.py's SF
# (plus an env override) so a moved fixture tree is a one-line change
SF_TINY = os.environ.get("SPARK_GRAFT_SF_TINY_DIR", "/root/testdata/sf0.001")

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, ts, is_marker) rows; arrival = list position
EVENT = st.tuples(
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=50),
    st.booleans(),
)


def _punctuated_model(rows):
    """Pure-Python reference: process in arrival order per key; markers
    carry watermark = own ts; late = ts <= current watermark."""
    wm: dict[int, int | None] = {}
    kept = []
    for arrival, (k, ts, marker) in enumerate(rows):
        w = wm.get(k)
        if w is None or ts > w:
            kept.append((k, ts, marker, arrival))
        if marker:
            wm[k] = ts if w is None else max(w, ts)
    return sorted(kept)


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(rows=st.lists(EVENT, min_size=1, max_size=40))
def test_punctuated_filter_matches_model(spark, rows):
    from rocketmq_flink_spark.streaming.ops import punctuated_filter_batch

    df = spark.createDataFrame(
        [(k, t, m, i) for i, (k, t, m) in enumerate(rows)],
        "k BIGINT, ts_us BIGINT, is_marker BOOLEAN, arrival BIGINT",
    )
    got = sorted(
        (r.k, r.ts_us, r.is_marker, r.arrival)
        for r in punctuated_filter_batch(
            df, "k", "ts_us", "is_marker", "ts_us", arrival_col="arrival"
        ).collect()
    )
    assert got == _punctuated_model(rows)


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(
    toks=st.lists(st.integers(min_value=1, max_value=300), min_size=1,
                  max_size=30),
    window=st.integers(min_value=1, max_value=500),
)
def test_pack_sequences_matches_model(spark, toks, window):
    from rocketmq_flink_spark.operators.pipeline import pack_sequences

    df = spark.createDataFrame(
        [(i, "s", n) for i, n in enumerate(toks)],
        "id BIGINT, stream STRING, n_tok BIGINT",
    )
    got = {
        r.id: r.pack_id
        for r in pack_sequences(df, "id", "n_tok", "stream", window).collect()
    }
    cum = 0
    for i, n in enumerate(toks):
        assert got[i] == cum // window, (i, toks, window)
        cum += n
    # pack ids are monotone and start at 0
    assert got[0] == 0
    assert all(got[i] <= got[i + 1] for i in range(len(toks) - 1))


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                 max_size=50, unique=True),
    rate=st.integers(min_value=0, max_value=1000),
)
def test_stratified_sample_matches_hash_predicate(spark, ids, rate):
    import hashlib

    from rocketmq_flink_spark.operators.pipeline import stratified_sample

    df = spark.createDataFrame([(i, "g") for i in ids], "id BIGINT, g STRING")
    kept = sorted(
        r.id
        for r in stratified_sample(df, "id", "g", {}, rate).collect()
    )

    def model_keep(i):
        h = int(hashlib.md5(f"sample:{i}".encode()).hexdigest()[:15], 16)
        return (h % 1000) < rate

    assert kept == sorted(i for i in ids if model_keep(i))


# ascii-only documents: over this alphabet the engine's \p{L}\p{N}
# normalization equals [A-Za-z0-9], so a pure-Python model is exact
DOC_TEXT = st.text(
    alphabet="abc XY9 .,!-\t", min_size=0, max_size=60
)


def _quality_model(text, min_tokens=10, max_mean_x10=100,
                   min_alpha_pm=550, max_dup_pm=200):
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^A-Za-z0-9\s]", " ", text.lower())).strip()
    toks = norm.split(" ") if norm != "" else []
    n_tok = len(toks)
    nc = len(text)
    na = len(re.sub(r"[^A-Za-z]", "", text))
    nw = nc - sum(1 for ch in text if ch.isspace())
    grams = (
        [" ".join(toks[i:i + 2]) for i in range(max(len(toks) - 1, 1))]
        if toks else [""]
    )
    from collections import Counter

    cnt = Counter(grams)
    n_ngrams = len(grams)
    dup = sum(c for c in cnt.values() if c > 1)
    if n_tok < min_tokens:
        return "short"
    if 10 * nw > max_mean_x10 * max(n_tok, 1):
        return "meanlen"
    if 1000 * na < min_alpha_pm * max(nc, 1):
        return "alpha"
    if 1000 * dup > max_dup_pm * max(n_ngrams, 1):
        return "repetitive"
    return ""


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(texts=st.lists(DOC_TEXT, min_size=1, max_size=12))
def test_quality_filter_matches_model(spark, texts):
    from rocketmq_flink_spark.operators.text import quality_filter_flags

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id INT, text STRING"
    )
    got = {
        r.id: r.fail_rule
        for r in quality_filter_flags(df, "id", "text").collect()
    }
    expect = {i: _quality_model(t) for i, t in enumerate(texts)}
    assert got == expect


def _hist_model(vals, lo, hi, nbins=256):
    from collections import Counter

    c = Counter()
    for v in vals:
        b = int((v - lo) * nbins / (hi - lo) // 1)
        c[min(max(b, 0), nbins - 1)] += 1
    return dict(c)


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=-10.0, max_value=110.0, allow_nan=False),
        min_size=1,
        max_size=60,
    )
)
def test_histogram_bins_match_model_and_merge(spark, vals):
    from rocketmq_flink_spark.operators.sketches import hist_bins

    lo, hi = 0.0, 100.0
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
    ).select(
        "i", "v", F.lit(lo).alias("lo"), F.lit(hi).alias("hi")
    )
    full = {
        r.bin: r.cnt
        for r in hist_bins(
            df, F.col("v"), ["lo", "hi"], F.col("lo"), F.col("hi")
        ).collect()
    }
    assert full == _hist_model(vals, lo, hi)
    # shard merge (sum) reproduces the full histogram
    sh = hist_bins(
        df.withColumn("s", F.col("i") % 2),
        F.col("v"),
        ["s", "lo", "hi"],
        F.col("lo"),
        F.col("hi"),
    )
    merged = {}
    for r in sh.collect():
        merged[r.bin] = merged.get(r.bin, 0) + r.cnt
    assert merged == full


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(
    inserted=st.lists(st.text(min_size=1, max_size=8), min_size=1,
                      max_size=30, unique=True),
    probed=st.lists(st.text(min_size=1, max_size=8), min_size=1,
                    max_size=30, unique=True),
)
def test_bloom_never_false_negative_property(spark, inserted, probed):
    from rocketmq_flink_spark.operators.sketches import (
        bloom_build,
        bloom_filter_words,
        with_bloom_hit,
    )

    m, k = 1 << 10, 3
    ins = spark.createDataFrame([(v,) for v in inserted], "v string")
    words = bloom_filter_words(
        bloom_build(ins, F.col("v"), m=m, k=k), m=m
    )
    cand = spark.createDataFrame(
        [(v,) for v in set(inserted) | set(probed)], "v string"
    )
    got = {
        r.v: r.bloom_hit
        for r in with_bloom_hit(cand, "v", words, m=m, k=k).collect()
    }
    for v in inserted:
        assert got[v] is True  # the Bloom contract: no false negatives


# delimiter-free text: the reference's delimited layout (like any CSV
# without quoting) cannot represent content containing the delimiters
# themselves — the property therefore quantifies over the representable
# domain, which is exactly the codec's contract
_FIELD_TEXT = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters=",\n\r\x01\x02", min_codepoint=32
    ),
    min_size=0,
    max_size=12,
)


@pytest.mark.usefixtures("spark")
@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            _FIELD_TEXT,
            st.booleans(),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_codec_roundtrip_property(spark, rows):
    """encode -> decode is the identity on arbitrary representable rows
    (random ints incl. negatives, random delimiter-free ASCII text,
    booleans) — the connector's core contract, checked beyond the
    fixture data."""
    from rocketmq_flink_spark.functions import decode_envelope, encode_rows

    rows = [(i, *r[1:]) for i, r in enumerate(rows)]  # unique ids
    df = spark.createDataFrame(rows, "id long, s string, flag boolean")
    env = encode_rows(
        df, options={"keyColumns": "id", "writeKeysToBody": "true"}
    )
    back = decode_envelope(env, "id long, s string, flag boolean")
    got = sorted(
        (r.id, r.s, r.flag) for r in back.select("id", "s", "flag").collect()
    )
    assert got == sorted(rows)


WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "yy"])
LINE = st.lists(WORD, min_size=0, max_size=4).map(" ".join)
DOC = st.lists(LINE, min_size=1, max_size=5).map("\n".join)


def _line_dedup_model(docs, min_docs):
    """Pure-Python reference for line_dedup."""
    from collections import defaultdict

    seen = defaultdict(set)
    for i, text in enumerate(docs):
        for ln in text.split("\n"):
            key = ln.strip()
            if key:
                seen[key].add(i)
    hot = {k for k, s in seen.items() if len(s) >= min_docs}
    out = {}
    for i, text in enumerate(docs):
        lines = text.split("\n")
        kept = [ln for ln in lines if ln.strip() not in hot]
        out[i] = (len(lines), len(lines) - len(kept), "\n".join(kept))
    return out


@given(docs=st.lists(DOC, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_line_dedup_matches_model(spark, docs):
    from rocketmq_flink_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        r["doc"]: (r["n_lines"], r["n_removed"], r["text_clean"])
        for r in line_dedup(df, "doc_id", "text", min_docs=2).collect()
    }
    assert got == _line_dedup_model(docs, 2)


# ---------------------------------------------------------------------------
# Engine-parity primitives (round 4): dec10 quantization and fp_log2
# ---------------------------------------------------------------------------

_DEC10_ADVERSARIAL = [
    -0.27392578125,   # -561/2048: the r4 fixture's exact scale-10 tie
    0.27392578125,
    5e-11, -5e-11, 1.5e-10, -1.5e-10, 2.5e-10, -2.5e-10,
    0.99999999995, -0.99999999995, 0.0, 1.0, -1.0,
    0.1, -0.1, 3.14159265358979, 1.0000000000499999,
]


def test_dec10_engine_parity_adversarial(spark):
    """The floor-formula quantization must agree with the DuckDB
    spelling VALUE-for-value on exact decimal ties — the case where
    plain casts diverge (Spark half-up vs DuckDB half-even)."""
    import duckdb

    from rocketmq_flink_spark.functions.quant import (
        dec10_array,
        duck_dec10_list,
    )

    vals = list(_DEC10_ADVERSARIAL)
    df = spark.createDataFrame([(vals,)], "v array<double>")
    sp = df.select(dec10_array(F.col("v")).alias("d")).collect()[0]["d"]
    con = duckdb.connect()
    du = con.execute(
        "SELECT " + duck_dec10_list("?::DOUBLE[]"), [vals]
    ).fetchone()[0]
    for v, a, b in zip(vals, sp, du):
        assert a == b, (v, a, b)  # Decimal value equality


@given(
    xs=st.lists(
        st.floats(
            min_value=-99.0, max_value=99.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=24,
    )
)
@settings(**SETTINGS)
def test_dec10_engine_parity_random(spark, xs):
    import duckdb

    from rocketmq_flink_spark.functions.quant import (
        dec10_array,
        duck_dec10_list,
    )

    df = spark.createDataFrame([(xs,)], "v array<double>")
    sp = df.select(dec10_array(F.col("v")).alias("d")).collect()[0]["d"]
    con = duckdb.connect()
    du = con.execute(
        "SELECT " + duck_dec10_list("?::DOUBLE[]"), [xs]
    ).fetchone()[0]
    assert [a == b for a, b in zip(sp, du)].count(False) == 0


@given(
    p=st.integers(min_value=1, max_value=10**12),
    q=st.integers(min_value=1, max_value=10**12),
)
@settings(**SETTINGS)
def test_fp_log2_three_witnesses(spark, p, q):
    """fp_log2 (fixed-point repeated-squaring log2) must be bit-equal
    across the Catalyst fold, the DuckDB recursive CTE, and Python —
    and within 2e-6 of true log2."""
    import math

    import duckdb

    from rocketmq_flink_spark.operators.retrieval import (
        fp_log2_py,
        fp_log2_sql,
    )

    hi, lo = max(p, q), min(p, q)
    exp = fp_log2_py(hi, lo)
    got_spark = (
        spark.range(1)
        .selectExpr(
            fp_log2_sql(f"CAST({hi} AS BIGINT)", f"CAST({lo} AS BIGINT)")
            + " AS fp"
        )
        .collect()[0]["fp"]
    )
    assert got_spark == exp
    con = duckdb.connect()
    got_duck = con.execute(f"""
    WITH RECURSIVE base AS (
      SELECT CAST({hi} AS BIGINT) AS p0, CAST({lo} AS BIGINT) AS q0,
             length(bin({hi} // {lo})) - 1 AS k),
    it AS (
      SELECT k, 0 AS i, p0 AS p, (q0 << k) AS q, CAST(0 AS BIGINT) AS acc
      FROM base
      UNION ALL
      SELECT k, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20)
    SELECT acc + (CAST(k AS BIGINT) << 20) FROM it WHERE i = 20
    """).fetchone()[0]
    assert got_duck == exp
    assert abs(exp / (1 << 20) - math.log2(hi / lo)) < 2e-6


@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=1 << 62),
            # adversarial band: perfect squares and their neighbors,
            # where a 1-ulp double-sqrt error flips the floor
            st.integers(min_value=0, max_value=1 << 31).map(
                lambda r: r * r
            ),
            st.integers(min_value=1, max_value=1 << 31).map(
                lambda r: r * r - 1
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_isqrt_engine_parity(spark, xs):
    """isqrt (corrected double sqrt) must equal math.isqrt exactly in
    BOTH engines — including on perfect squares +-1 where Spark's
    truncating and DuckDB's rounding double->int casts disagree."""
    import math

    import duckdb

    from rocketmq_flink_spark.functions.intmath import isqrt_sql

    want = [math.isqrt(x) for x in xs]
    df = spark.createDataFrame([(x,) for x in xs], "x LONG")
    got_spark = [
        r.s for r in df.selectExpr(isqrt_sql("x") + " AS s").collect()
    ]
    assert got_spark == want
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {isqrt_sql(str(x))} AS s"
        ).fetchone()[0]
        for x in xs
    ]
    assert got_duck == want


@settings(**SETTINGS)
@given(
    xs=st.lists(
        st.integers(min_value=1, max_value=30), min_size=3, max_size=40
    )
)
def test_mann_kendall_oracle_matches_python_witness(xs):
    """The mann_kendall_trend_daily ORACLE equals a direct pairwise
    pure-Python computation (S, tie-corrected var18, tau ppm, squared
    continuity-corrected decision) on an arbitrary daily-count series
    — one synthetic event row per day per count unit."""
    import datetime

    import duckdb

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    rows = []
    eid = 0
    for d, c in enumerate(xs):
        day = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)
        for _ in range(c):
            rows.append((eid, day))
            eid += 1
    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    got = con.execute(REGISTRY["mann_kendall_trend_daily"].oracle).fetchone()

    n = len(xs)
    s = sum(
        (1 if b > a else -1 if b < a else 0)
        for i, a in enumerate(xs)
        for b in xs[i + 1:]
    )
    from collections import Counter

    ties = Counter(xs)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )
    pairs = n * (n - 1) // 2
    tau = (
        (2 * 1_000_000 * s + pairs) // (2 * pairs)
        if s >= 0
        else -((2 * 1_000_000 * (-s) + pairs) // (2 * pairs))
    )
    reject = (
        0
        if s == 0
        else int(18_000_000 * (abs(s) - 1) ** 2 > 3_841_600 * var18)
    )
    assert got == (n, s, var18, tau, reject)


@settings(**SETTINGS)
@given(
    masses=st.lists(
        st.integers(min_value=1, max_value=400), min_size=2, max_size=12
    )
)
def test_waterfill_oracle_matches_python_witness(masses):
    """token_budget_waterfill's ORACLE equals a direct pure-Python
    water-fill on arbitrary per-source masses, and its invariants hold:
    sum(allocated) + remainder == budget, allocated <= tokens, capped
    iff tokens > level."""
    import duckdb

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
        " lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, 'en', ?, 1)",
        [
            (i, "tok " * m, f"s{i:02d}")
            for i, m in enumerate(masses)
        ],
    )
    rows = con.execute(
        REGISTRY["token_budget_waterfill"].oracle
    ).fetchall()

    total = sum(masses)
    budget = total // 2
    srt = sorted(masses)
    n = len(srt)
    level = srt[-1]
    pref = 0
    for i, m in enumerate(srt, start=1):
        if pref + m * (n - i + 1) > budget:
            level = (budget - pref) // (n - i + 1)
            break
        pref += m
    alloc = {f"s{i:02d}": min(m, level) for i, m in enumerate(masses)}
    rem = budget - sum(alloc.values())
    for src, tokens, allocated, capped, lev, remainder in rows:
        assert tokens == masses[int(src[1:])]
        assert allocated == alloc[src] and allocated <= tokens
        assert capped == int(tokens > lev)
        assert lev == level and remainder == rem
    assert rem >= 0


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abe iou.!? xyz", min_size=5, max_size=80),
        min_size=1,
        max_size=8,
    )
)
def test_readability_oracle_matches_python_witness(texts):
    """The readability_by_source ORACLE equals a pure-Python Flesch
    witness on arbitrary ascii docs (sentence segments, normalized
    tokens, vowel groups, two half-up milli rationals)."""
    import re

    import duckdb

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
        " lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, 'en', 'src', 1)",
        list(enumerate(texts)),
    )
    rows = con.execute(REGISTRY["readability_by_source"].oracle).fetchall()

    s = w = y = 0
    for t in texts:
        s += sum(
            1 for seg in re.split(r"[.!?]+", t) if seg.strip() != ""
        )
        norm = re.sub(
            r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", t.lower())
        ).strip()
        w += len([x for x in norm.split(" ") if x != ""])
        y += len(re.split(r"[aeiou]+", t.lower())) - 1
    if s == 0 or w == 0:
        assert rows == []
        return
    wps = (2 * 1000 * w + s) // (2 * s)
    flesch = (
        206835
        - (2 * 1015 * w + s) // (2 * s)
        - (2 * 84600 * y + w) // (2 * w)
    )
    assert rows == [("src", s, w, y, wps, flesch)]


@settings(**SETTINGS)
@given(
    masses=st.lists(
        st.integers(min_value=1, max_value=2000), min_size=2, max_size=10
    ),
    dups=st.integers(min_value=0, max_value=5),
)
def test_simpson_oracle_matches_fraction_witness(masses, dups):
    """The simpson_diversity_by_source ORACLE equals Fraction-exact
    1 - sum p^2 and inverse-Simpson on a synthetic one-source corpus
    with controlled token multiplicities."""
    from fractions import Fraction

    import duckdb

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    # token i appears masses[i] times; `dups` extra copies of token 0
    counts = list(masses)
    counts[0] += dups
    text = " ".join(
        f"tok{i}" for i, c in enumerate(counts) for _ in range(c)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
        " lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.execute(
        "INSERT INTO documents VALUES (0, ?, 'en', 'src', 1)", [text]
    )
    got = con.execute(
        REGISTRY["simpson_diversity_by_source"].oracle
    ).fetchone()
    t = sum(counts)
    s2 = sum(c * c for c in counts)
    simpson = Fraction(1_000_000) - Fraction(1_000_000 * s2, t * t)
    sm = (
        1_000_000
        - (2 * 1_000_000 * s2 + t * t) // (2 * t * t)
    )
    ev = Fraction(1000 * t * t, s2)
    evm = (2 * 1000 * t * t + s2) // (2 * s2)
    # half-up rationals bracket the exact Fractions within 1 unit
    assert abs(sm - float(simpson)) <= 1 and abs(evm - float(ev)) <= 1
    assert got == ("src", t, len(counts), sm, evm)


@settings(**SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_bitmap_intersections_oracle_matches_set_witness(pairs):
    """The bitmap_segment_intersections ORACLE equals plain Python set
    algebra (packing and popcount change nothing) on arbitrary
    (event_type, user) pairs."""
    import duckdb
    from collections import defaultdict

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    segs = defaultdict(set)
    for t, u in pairs:
        segs[t].add(u)
    from hypothesis import assume

    assume(len(segs) >= 2)
    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_type VARCHAR, user_id BIGINT)")
    con.executemany("INSERT INTO events VALUES (?, ?)", pairs)
    got = con.execute(
        REGISTRY["bitmap_segment_intersections"].oracle
    ).fetchall()
    want = []
    for a in sorted(segs):
        for b in sorted(segs):
            if a < b:
                na, nb = len(segs[a]), len(segs[b])
                ni = len(segs[a] & segs[b])
                un = na + nb - ni
                want.append(
                    (a, b, na, nb, ni, (2 * 1_000_000 * ni + un) // (2 * un))
                )
    assert got == want


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=30),       # user
            st.integers(min_value=1, max_value=100000),   # cents
        ),
        min_size=4,
        max_size=60,
    )
)
def test_qte_oracle_matches_rank_witness(rows):
    """The quantile_treatment_effect ORACLE equals the direct sorted
    rank-quantile definition per arm on arbitrary purchases."""
    import duckdb
    import hashlib

    from hypothesis import assume

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    def arm(uid):
        h = int(hashlib.md5(f"did:{uid}".encode()).hexdigest()[:15], 16)
        return "T" if h % 2 == 0 else "C"

    t = sorted(c for u, c in rows if arm(u) == "T")
    c_ = sorted(c for u, c in rows if arm(u) == "C")
    assume(t and c_)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(user_id BIGINT, event_type VARCHAR,"
        " value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, 'purchase', ?)",
        [(u, c / 100.0) for u, c in rows],
    )
    got = con.execute(
        REGISTRY["quantile_treatment_effect"].oracle
    ).fetchall()

    def q(sorted_vals, pct):
        n = len(sorted_vals)
        for i, v in enumerate(sorted_vals, start=1):
            if 100 * i >= pct * n:
                return v

    want = []
    for pct in (25, 50, 75, 90):
        tv, cv = q(t, pct), q(c_, pct)
        want.append((pct, tv, cv, tv - cv))
    assert got == want


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab the of x yz ", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_rake_oracle_matches_python_witness(texts):
    """The rake_keyword_extraction ORACLE equals a pure-Python RAKE
    (stopword islands, len <= 4, degree/frequency floor-div ppm word
    scores, phrase score = sum over words WITH multiplicity) over an
    ascii alphabet where the engine normalization equals
    [a-z0-9 ] lowering."""
    import duckdb
    import re
    from collections import Counter, defaultdict

    from rocketmq_flink_spark.plans.catalog import _RAKE_STOPS, REGISTRY

    stops = {s.strip("'") for s in _RAKE_STOPS.split(",")}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, lang VARCHAR, text VARCHAR)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, 'en', ?)",
        list(enumerate(texts)),
    )
    got = con.execute(REGISTRY["rake_keyword_extraction"].oracle).fetchall()

    phrases = []
    for t in texts:
        norm = re.sub(
            r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", t.lower())
        ).strip()
        toks = [x for x in norm.split(" ") if x != ""]
        run = []
        for tok in toks + [None]:
            if tok is None or tok in stops:
                if run and len(run) <= 4:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(tok)
    from hypothesis import assume

    assume(phrases)
    freq, deg = Counter(), defaultdict(int)
    for ph in phrases:
        for wd in ph:
            freq[wd] += 1
            deg[wd] += len(ph)
    wscore = {
        wd: (1_000_000 * deg[wd]) // freq[wd] for wd in freq
    }
    docc = Counter(" ".join(ph) for ph in phrases)
    scored = [
        (p, n, sum(wscore[w] for w in p.split(" ")))
        for p, n in docc.items()
    ]
    scored.sort(key=lambda t: (-t[2], t[0]))
    assert got == scored[:20]


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab x yz ", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    )
)
def test_burstiness_oracle_matches_fraction_witness(texts):
    """The token_burstiness_report ORACLE equals the direct
    VMR = (N*S - T^2)/(N*T) floor-div ppm definition (zeros included
    via N = docs with any token) on arbitrary ascii documents."""
    import duckdb
    import re
    from collections import Counter, defaultdict

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    got = con.execute(REGISTRY["token_burstiness_report"].oracle).fetchall()

    per = defaultdict(Counter)
    for i, t in enumerate(texts):
        norm = re.sub(
            r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", t.lower())
        ).strip()
        for tok in norm.split(" "):
            if tok:
                per[i][tok] += 1
    n = sum(1 for c in per.values() if c)
    stats = defaultdict(lambda: [0, 0, 0])  # tok -> [df, T, S]
    for c in per.values():
        for tok, tf in c.items():
            s = stats[tok]
            s[0] += 1
            s[1] += tf
            s[2] += tf * tf
    want = []
    for tok, (df, t_, s_) in stats.items():
        if df >= 5:
            vmr = (1_000_000 * (n * s_ - t_ * t_)) // (n * t_)
            want.append((tok, df, t_, vmr))
    want.sort(key=lambda r: (-r[3], r[0]))
    assert got == want[:20]


@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),     # user
            st.integers(min_value=0, max_value=3000),  # minute offset
            st.sampled_from(["view", "click", "signup", "purchase"]),
            st.integers(min_value=100, max_value=9000),  # cents
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_pit_features_oracle_matches_python_witness(events):
    """The point_in_time_features ORACLE equals a pure-Python replay
    of the leakage-safe window semantics (strictly-prior last view /
    signup, trailing-24h-exclusive click count) on arbitrary event
    streams."""
    import duckdb

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(user_id BIGINT, event_id BIGINT,"
        " event_type VARCHAR, ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?,"
        " TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (?) MINUTE, ?)",
        [(u, i, t, m, c / 100.0) for i, (u, m, t, c) in enumerate(events)],
    )
    got = con.execute(REGISTRY["point_in_time_features"].oracle).fetchall()

    base = 1704067200 * 1_000_000  # 2024-01-01 UTC epoch micros
    want = []
    from collections import defaultdict

    per = defaultdict(list)
    for i, (u, m, t, c) in enumerate(events):
        per[u].append((base + m * 60_000_000, i, t, c))
    for u in per:
        rows = sorted(per[u])
        for idx, (ts, i, t, c) in enumerate(rows):
            if t != "purchase":
                continue
            prior = rows[:idx]
            lv = next(
                (pc for pts, pi, pt, pc in reversed(prior) if pt == "view"),
                None,
            )
            lsu = next(
                (pts for pts, pi, pt, pc in reversed(prior)
                 if pt == "signup"),
                None,
            )
            clicks = sum(
                1
                for pts, pi, pt, pc in prior
                if pt == "click"
                and ts - 86_400_000_000 <= pts <= ts - 1
            )
            want.append(
                (
                    u,
                    ts,
                    c,
                    lv if lv is not None else -1,
                    clicks,
                    (ts - lsu) // 1_000_000 if lsu is not None else -1,
                )
            )
    want.sort()
    assert got == want[:20]


@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),      # user -> queue
            st.integers(min_value=0, max_value=10000),  # minute offset
            st.integers(min_value=100, max_value=9000),  # cents
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_late_router_oracle_matches_merge_witness(events):
    """The late_data_router_audit ORACLE equals a pure-Python replay
    of the four-queue round-robin merge + running-HWM-minus-1h
    watermark routing, including the kept+late = everything
    partition property."""
    import duckdb

    from rocketmq_flink_spark.plans.catalog import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(user_id BIGINT, event_id BIGINT,"
        " ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?,"
        " TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (?) MINUTE, ?)",
        [(u, i, m, c / 100.0) for i, (u, m, c) in enumerate(events)],
    )
    got = {r[0]: r for r in con.execute(
        REGISTRY["late_data_router_audit"].oracle
    ).fetchall()}

    base = 1704067200 * 1_000_000
    rows = [
        (u % 4, base + m * 60_000_000, i, c)
        for i, (u, m, c) in enumerate(events)
    ]
    # per-queue position by (ts, event_id); merge order = (pos, queue)
    from collections import defaultdict

    per = defaultdict(list)
    for que, ts, i, c in rows:
        per[que].append((ts, i, c))
    merged = []
    for que in per:
        for pos, (ts, i, c) in enumerate(sorted(per[que]), start=1):
            merged.append((pos, que, ts, i, c))
    merged.sort()
    hwm = None
    agg = {"kept": [0, 0, 0], "late": [0, 0, 0]}
    for pos, que, ts, i, c in merged:
        route = (
            "late"
            if hwm is not None and ts < hwm - 3_600_000_000
            else "kept"
        )
        a = agg[route]
        a[0] += 1
        a[1] += i
        a[2] += c
        hwm = ts if hwm is None else max(hwm, ts)
    want = {
        r: (r, a[0], a[1], a[2]) for r, a in agg.items() if a[0] > 0
    }
    assert got == want
    total = sum(a[0] for a in agg.values())
    assert total == len(events)


def test_partitioning_invariance_representative_queries(spark):
    """The engine's core determinism claim: results are BIT-IDENTICAL
    under different parallelism. Run one representative query per major
    family at sf0.001 with shuffle.partitions 3 vs 17 (both unlike the
    suite's 8) and require exactly equal row sets — exact integer /
    decimal arithmetic everywhere is what makes this hold (a
    double-sum pipeline would drift in the last ulp)."""
    from rocketmq_flink_spark.plans.catalog import REGISTRY

    names = [
        "codec_roundtrip_agg",         # codec round trip + decimal agg
        "kmeans_cluster_profile",      # iterative fold (quantized)
        "minhash_dedup_groups",        # dedup banding
        "bm25_search_docs",            # fixed-point retrieval
        "log_compaction_latest_per_key",  # window/versioning
        "deterministic_corpus_shuffle",  # distributed exact rank
    ]
    sf = SF_TINY
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for p in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", p)
            for n in names:
                rows = sorted(
                    map(tuple, REGISTRY[n].fn(spark, sf).collect())
                )
                assert rows, n
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for n, (a, b) in results.items():
        assert a == b, f"{n}: results differ across shuffle partitioning"


@settings(**SETTINGS)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    gray=st.booleans(),
    layout=st.sampled_from(["444", "420", "422", "440", "411"]),
    rst=st.integers(0, 5),
)
def test_jpeg_entropy_layer_lossless_property(h, w, seed, gray, layout, rst):
    """Property form of the JPEG codec certification: for ARBITRARY
    pixel content, dimensions (incl. non-multiples of 8/16), random
    PER-ELEMENT quant tables, grayscale / 4:4:4 / 4:2:0 / 4:2:2 /
    4:4:0 / 4:1:1 layouts, and random restart intervals, the decoder
    recovers the encoder's quantized coefficients bit-for-bit on every
    component. The entropy layer is lossless by construction; this
    pins it against the whole input space rather than the unit tests'
    fixed cases."""
    import numpy as np

    from rocketmq_flink_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, (h, w)).astype("uint8")
    qt = (
        rng.integers(1, 256, 64).tolist(),
        rng.integers(1, 256, 64).tolist(),
    )
    if gray:
        payload = M.encode_jpeg_baseline(y, quant=qt, restart_interval=rst)
        planes = [(y, qt[0])]
    elif layout == "420":
        ch, cw = (h + 1) // 2, (w + 1) // 2
        cb = rng.integers(0, 256, (ch, cw)).astype("uint8")
        cr = rng.integers(0, 256, (ch, cw)).astype("uint8")
        payload = M.encode_jpeg_420(y, cb, cr, quant=qt, restart_interval=rst)
        planes = [(y, qt[0]), (cb, qt[1]), (cr, qt[1])]
    elif layout == "422":
        cw = (w + 1) // 2
        cb = rng.integers(0, 256, (h, cw)).astype("uint8")
        cr = rng.integers(0, 256, (h, cw)).astype("uint8")
        payload = M.encode_jpeg_422(y, cb, cr, quant=qt, restart_interval=rst)
        planes = [(y, qt[0]), (cb, qt[1]), (cr, qt[1])]
    elif layout == "440":
        ch = (h + 1) // 2
        cb = rng.integers(0, 256, (ch, w)).astype("uint8")
        cr = rng.integers(0, 256, (ch, w)).astype("uint8")
        payload = M.encode_jpeg_440(y, cb, cr, quant=qt, restart_interval=rst)
        planes = [(y, qt[0]), (cb, qt[1]), (cr, qt[1])]
    elif layout == "411":
        cw = (w + 3) // 4
        cb = rng.integers(0, 256, (h, cw)).astype("uint8")
        cr = rng.integers(0, 256, (h, cw)).astype("uint8")
        payload = M.encode_jpeg_411(y, cb, cr, quant=qt, restart_interval=rst)
        planes = [(y, qt[0]), (cb, qt[1]), (cr, qt[1])]
    else:
        cb = rng.integers(0, 256, (h, w)).astype("uint8")
        cr = rng.integers(0, 256, (h, w)).astype("uint8")
        payload = M.encode_jpeg_baseline(
            y, cb, cr, quant=qt, restart_interval=rst
        )
        planes = [(y, qt[0]), (cb, qt[1]), (cr, qt[1])]
    d = M.decode_jpeg_coefficients(payload)
    assert (d["width"], d["height"]) == (w, h)
    m = M._dct_matrix()
    zz = np.asarray(M._ZIGZAG)
    for ci, (plane, q) in enumerate(planes):
        gy, gx = d["grids"][ci]
        pl = plane
        ph, pw = gy * 8 - pl.shape[0], gx * 8 - pl.shape[1]
        if ph or pw:
            pl = np.pad(pl, ((0, ph), (0, pw)), mode="edge")
        blocks = M._to_blocks(pl) - 128.0
        co = np.matmul(m, np.matmul(blocks, m.T))  # same formula as encoder
        # DQT order -> natural order is the SCATTER q_nat[zz] = q
        # (matches the r7 encoder fix; the old gather q[zz] only
        # agreed for uniform tables)
        qn = np.empty(64, dtype="int64")
        qn[zz] = np.asarray(q)
        qm = qn.reshape(8, 8)
        want = (
            (np.sign(co) * np.floor(np.abs(co) / qm + 0.5))
            .reshape(gy * gx, 64)[:, zz].astype("int64")
        )
        assert (d["coefs"][ci] == want).all(), f"component {ci} drifted"
        assert d["quant"][ci] == list(q)


@settings(**SETTINGS)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
    gray=st.booleans(),
    layout=st.sampled_from(["444", "420", "422", "440", "411"]),
    rst=st.integers(0, 5),
)
def test_jpeg_progressive_lossless_property(h, w, seed, gray, layout, rst):
    """Progressive (SOF2) form of the entropy-layer certification: the
    successive-approximation scan script (DC first/refine + spectral
    band AC first scans + two AC refinements + EOBn runs + correction
    bits) recovers the shared quantizer's coefficients bit-for-bit on
    every REALLY-CODED block, for arbitrary content, dims, per-element
    tables, all five layouts, and random restart intervals; MCU-padding
    blocks of subsampled layouts carry DC-only (non-interleaved scans
    never code them, per T.81 A.2.2)."""
    import numpy as np

    from rocketmq_flink_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, (h, w)).astype("uint8")
    qt = (
        rng.integers(1, 256, 64).tolist(),
        rng.integers(1, 256, 64).tolist(),
    )
    sampling = {
        "444": (1, 1), "420": (2, 2), "422": (2, 1),
        "440": (1, 2), "411": (4, 1),
    }[layout]
    if gray:
        payload = M.encode_jpeg_progressive(
            y, quant=qt, restart_interval=rst
        )
        planes = [(y, qt[0])]
        samplings = [(1, 1)]
    else:
        sh, sv = sampling
        ch, cw = -(-h // sv), -(-w // sh)
        cb = rng.integers(0, 256, (ch, cw)).astype("uint8")
        cr = rng.integers(0, 256, (ch, cw)).astype("uint8")
        payload = M.encode_jpeg_progressive(
            y, cb, cr, quant=qt, luma_sampling=sampling, restart_interval=rst
        )
        planes = [(y, qt[0]), (cb, qt[1]), (cr, qt[1])]
        samplings = [sampling, (1, 1), (1, 1)]
    d = M.decode_jpeg_coefficients(payload)
    assert d["mode"] == "progressive"
    assert (d["width"], d["height"]) == (w, h)
    m = M._dct_matrix()
    zz = np.asarray(M._ZIGZAG)
    nid = M._noninterleaved_dims(h, w, samplings)
    for ci, (plane, q) in enumerate(planes):
        gy, gx = d["grids"][ci]
        pl = plane
        ph, pw = gy * 8 - pl.shape[0], gx * 8 - pl.shape[1]
        if ph or pw:
            pl = np.pad(pl, ((0, ph), (0, pw)), mode="edge")
        blocks = M._to_blocks(pl) - 128.0
        co = np.matmul(m, np.matmul(blocks, m.T))  # same formula as encoder
        qn = np.empty(64, dtype="int64")
        qn[zz] = np.asarray(q)
        want = (
            (np.sign(co) * np.floor(np.abs(co) / qn.reshape(8, 8) + 0.5))
            .reshape(gy, gx, 64)[:, :, zz].astype("int64")
        )
        got = d["coefs"][ci].reshape(gy, gx, 64)
        bh, bw = nid[ci]
        assert (got[:bh, :bw] == want[:bh, :bw]).all(), f"comp {ci} drifted"
        assert (got[..., 0] == want[..., 0]).all(), f"comp {ci} DC drifted"
        assert (got[bh:, :, 1:] == 0).all() and (got[:, bw:, 1:] == 0).all()


@settings(**SETTINGS)
@given(
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    seed=st.integers(0, 2**31 - 1),
    sel=st.integers(1, 7),
    prec=st.sampled_from([8, 12, 16]),
)
def test_jpeg_lossless_exact_property(h, w, seed, sel, prec):
    """Lossless JPEG's defining property over the whole input space:
    ANY image at ANY supported precision with ANY predictor
    reconstructs EXACTLY — no planted structure, no tolerance."""
    import numpy as np

    from rocketmq_flink_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 1 << prec, (h, w)).astype("int64")
    payload = M.encode_jpeg_lossless(img, predictor=sel, precision=prec)
    d = M.decode_jpeg_lossless(payload)
    assert (d["width"], d["height"]) == (w, h)
    assert (d["planes"][0] == img).all()


@settings(**SETTINGS)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
    profile=st.sampled_from(["rgb8", "gray16", "rgb16", "palette"]),
    interlace=st.booleans(),
)
def test_png_profiles_lossless_property(h, w, seed, profile, interlace):
    """PNG is lossless across its whole profile matrix: arbitrary
    content x {RGB8, gray16, RGB16, indexed} x {plain, Adam7}
    reconstructs exactly (filters cycle per row, so every unfilter
    path runs in every pass)."""
    import numpy as np

    from rocketmq_flink_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    if profile == "rgb8":
        px = rng.integers(0, 256, (h, w, 3)).astype("uint8")
        out = M.decode_png_pixels(M.encode_png(px, interlace=interlace))
        want = px
    elif profile == "gray16":
        px = rng.integers(0, 65536, (h, w)).astype("uint16")
        out = M.decode_png_pixels(M.encode_png16(px, interlace=interlace))
        want = px[:, :, None]
    elif profile == "rgb16":
        px = rng.integers(0, 65536, (h, w, 3)).astype("uint16")
        out = M.decode_png_pixels(M.encode_png16(px, interlace=interlace))
        want = px
    else:
        n = int(rng.integers(1, 257))
        pal = rng.integers(0, 256, (n, 3)).astype("uint8")
        idx = rng.integers(0, n, (h, w)).astype("uint8")
        out = M.decode_png_pixels(
            M.encode_png_palette(idx, pal, interlace=interlace)
        )
        want = pal[idx]
    assert out.shape == want.shape
    assert (out == want).all()
