"""Independent (non-oracle) witnesses for the behavioral/statistics
operators added in round 4's continuation: the DuckDB oracle gate in
test_queries.py already proves cross-engine hash parity; these tests
prove the STATISTIC itself against a third, pure-Python computation
and pin the structural invariants a refactor could silently break.
"""

from __future__ import annotations

import duckdb

from rocketmq_flink_spark.plans.catalog import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF).toPandas()


def test_heaps_curve_is_monotone_and_consistent(spark):
    df = _run(spark, "heaps_law_vocab_growth")
    assert list(df["decile"]) == list(range(10))
    for col in ("docs_cum", "tokens_cum", "vocab_cum"):
        vals = list(df[col])
        assert all(b >= a for a, b in zip(vals, vals[1:])), col
    # vocabulary can never outgrow the token stream
    assert (df["vocab_cum"] <= df["tokens_cum"]).all()
    # beta sentinel only at the first checkpoint; elsewhere 0 < beta <= ~1
    assert int(df["beta_milli"].iloc[0]) == -1
    tail = df["beta_milli"].iloc[1:]
    assert ((tail >= 0) & (tail <= 1200)).all()


def test_calibration_deciles_cover_each_source(spark):
    df = _run(spark, "source_quality_calibration")
    con = duckdb.connect()
    per_source = dict(
        con.execute(
            f"SELECT source, COUNT(*) FROM '{SF}/documents.parquet'"
            " GROUP BY source"
        ).fetchall()
    )
    got = df.groupby("source")["n_docs"].sum().to_dict()
    assert {k: int(v) for k, v in got.items()} == {
        k: int(v) for k, v in per_source.items()
    }
    assert df["decile"].between(0, 9).all()


def test_truncation_loss_is_monotone_in_context_len(spark):
    df = _run(spark, "truncation_loss_report").sort_values("context_len")
    lost = list(df["tokens_lost"])
    assert all(b <= a for a, b in zip(lost, lost[1:]))
    assert (df["tokens_total"] == df["tokens_total"].iloc[0]).all()
    assert (df["tokens_lost"] <= df["tokens_total"]).all()


def test_ndcg_bounds_and_perfect_case(spark):
    df = _run(spark, "ndcg_retrieval_eval")
    assert len(df) == 8
    assert df["ndcg_ppm"].between(0, 1000000).all()
    # a query whose top-10 is all relevant and whose corpus has >= 10
    # relevant neighbors must score exactly 1e6 (DCG == ideal DCG)
    perfect = df[(df["hits_at_10"] == 10) & (df["n_rel_corpus"] >= 10)]
    assert (perfect["ndcg_ppm"] == 1000000).all()
    assert (df["hits_at_10"] <= df["n_rel_corpus"].clip(upper=10)).all()


def test_jsd_pair_structure_and_range(spark):
    df = _run(spark, "lang_similarity_jsd")
    # all 10 unordered pairs of the 5 fixture languages, JSD in [0, 1e6]
    # micro-bits (note: the fixture's text is synthetic English-ish for
    # EVERY lang tag, so values are small — the operator reports that
    # honestly instead of inventing divergence)
    assert len(df) == 10
    assert df["jsd_micro"].between(0, 1000000).all()
    assert (df["lang_a"] < df["lang_b"]).all()
    # distributions are sampled independently per tag, so no pair is
    # EXACTLY identical — JSD must be strictly positive
    assert (df["jsd_micro"] > 0).all()


def test_jsd_identical_distributions_are_zero(spark):
    # self-JSD witness: running the same pair formula with q == p must
    # yield exactly 0 ticks (the fold's log2(1) = 0 branch)
    from rocketmq_flink_spark.operators.retrieval import fp_log2_py

    assert fp_log2_py(2 * 7 * 100, 7 * 100 + 7 * 100) == 0


def test_sprt_constants_and_boundaries_are_exact():
    """SPRT-style tick constants from fp_log2 equal the pure-Python
    witness, and the boundaries are the exact closed forms:
    log2(16) = 4*2^20 ticks, log2(4/19) = 2*2^20 - fp_log2(19)."""
    from rocketmq_flink_spark.operators.retrieval import fp_log2_py

    c1 = fp_log2_py(11, 10)
    assert 0 < c1 < (1 << 20)  # log2(1.1) ~ 0.1375 bits
    assert abs(c1 / (1 << 20) - 0.13750352) < 2e-6
    up = 4 * (1 << 20)
    assert up == int(4.0 * (1 << 20))  # log2(16) exact
    lo_mag = fp_log2_py(19, 1) - 2 * (1 << 20)
    # log2(19/4) = 2.2479... bits
    assert abs(lo_mag / (1 << 20) - 2.24792751) < 2e-6


def test_sign_split_floor_div_matches_python_floor():
    """Sign-split integer division
    (CASE WHEN v >= 0 THEN v div 4 ELSE -(((-v) + 3) div 4) END under
    TRUNCATING div) equals Python's flooring // for every residue
    class and sign."""

    def fdiv4(v: int) -> int:
        # truncating div like Spark's `div` / DuckDB on positives
        def tdiv(a: int, b: int) -> int:
            return abs(a) // b * (1 if a >= 0 else -1)

        return tdiv(v, 4) if v >= 0 else -tdiv((-v) + 3, 4)

    for v in range(-25, 26):
        assert fdiv4(v) == v // 4, v
