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


def test_attribution_conserves_purchases(spark):
    df = _run(spark, "last_touch_attribution")
    con = duckdb.connect()
    n, cents = con.execute(
        f"""SELECT COUNT(*), CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                                 AS BIGINT)
            FROM '{SF}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchone()
    assert int(df["n_purchases"].sum()) == n
    assert int(df["value_cents"].sum()) == cents
    assert set(df["channel"]) <= {"view", "click", "direct"}


def test_ndcg_bounds_and_perfect_case(spark):
    df = _run(spark, "ndcg_retrieval_eval")
    assert len(df) == 8
    assert df["ndcg_ppm"].between(0, 1000000).all()
    # a query whose top-10 is all relevant and whose corpus has >= 10
    # relevant neighbors must score exactly 1e6 (DCG == ideal DCG)
    perfect = df[(df["hits_at_10"] == 10) & (df["n_rel_corpus"] >= 10)]
    assert (perfect["ndcg_ppm"] == 1000000).all()
    assert (df["hits_at_10"] <= df["n_rel_corpus"].clip(upper=10)).all()


def test_activity_streaks_invariants(spark):
    df = _run(spark, "activity_streaks_users")
    assert (df["best_streak"] >= 1).all()
    assert (df["best_streak"] <= df["n_active_days"]).all()
    assert df["start_day_idx"].between(0, 30).all()
    streaks = list(df["best_streak"])
    assert streaks == sorted(streaks, reverse=True)


def test_kaplan_meier_matches_python_witness(spark):
    df = _run(spark, "kaplan_meier_signup_to_purchase")
    con = duckdb.connect()
    rows = con.execute(
        f"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               event_type
                        FROM '{SF}/events.parquet'),
        su AS (SELECT user_id, MIN(day) AS sday FROM ev
               WHERE event_type='signup' GROUP BY user_id),
        pu AS (SELECT ev.user_id, MIN(ev.day) AS pday FROM ev
               JOIN su ON ev.user_id = su.user_id
               WHERE ev.event_type='purchase' AND ev.day >= su.sday
               GROUP BY ev.user_id)
        SELECT date_diff('day', su.sday,
                 COALESCE(pu.pday, (SELECT MAX(day) FROM ev))),
               pu.pday IS NOT NULL
        FROM su LEFT JOIN pu ON su.user_id = pu.user_id"""
    ).fetchall()
    n = len(rows)
    s = 1000000
    expect = []
    for t in sorted({t for t, e in rows if e}):
        n_risk = sum(1 for tu, _ in rows if tu >= t)
        d = sum(1 for tu, e in rows if e and tu == t)
        s = (2 * s * (n_risk - d) + n_risk) // (2 * n_risk)
        expect.append((t, n_risk, d, s))
    got = list(
        zip(df["t_days"], df["n_at_risk"], df["d_events"], df["surv_ppm"])
    )
    assert [(int(a), int(b), int(c), int(d)) for a, b, c, d in got] == expect
    # survival is non-increasing and the risk set strictly shrinks
    sv = list(df["surv_ppm"])
    assert all(b <= a for a, b in zip(sv, sv[1:]))
    nr = list(df["n_at_risk"])
    assert all(b < a for a, b in zip(nr, nr[1:]))
    assert n >= nr[0]


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
    """The SPRT monitor's tick constants equal the pure-Python fp_log2
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
    """The sign-split integer division used by the Holt/forecast folds
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


def test_shapley_efficiency_identity(spark):
    """Shapley efficiency: sum(phi24) == 24 * (v(full) - v(empty)),
    with v(full) = all conversions and v(empty) = conversions of
    purchase-first users (empty pre-purchase channel set) — computed
    here independently of the catalog query's grid pipeline."""
    from pyspark.sql import functions as F

    from rocketmq_flink_spark.plans.catalog import REGISTRY
    from rocketmq_flink_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    out = {
        r["channel"]: r["phi24"]
        for r in REGISTRY["shapley_attribution"].fn(spark, sf).collect()
    }
    ev = load_tables(spark, sf)["events"]
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    r0 = ev.select(
        "user_id",
        F.col("event_type").alias("m"),
        F.row_number().over(w).alias("rk"),
    )
    first = r0.where(F.col("rk") == 1)
    v_full = r0.where(F.col("m") == "purchase").select(
        "user_id"
    ).distinct().count()
    v_empty = first.where(F.col("m") == "purchase").count()
    assert sum(out.values()) == 24 * (v_full - v_empty)
    assert all(v >= 0 for v in out.values())


def test_markov_matrix_guard_rejects_high_cardinality(spark):
    # VERDICT r4 item 5: the driver-side absorption fold must refuse to
    # collect a transition matrix whose state vocabulary exceeds the cap
    # — a high-cardinality state column raises instead of silently
    # pulling an unbounded matrix to the driver.
    import pytest

    from rocketmq_flink_spark.plans.catalog import (
        _MARKOV_MAX_STATES,
        _collect_bounded_transition_matrix,
    )

    big = spark.range(_MARKOV_MAX_STATES + 10).selectExpr(
        "CAST(id AS STRING) AS s",
        "CAST(id + 1 AS STRING) AS t",
        "CAST(1 AS BIGINT) AS c",
    )
    with pytest.raises(ValueError, match="absorption cap"):
        _collect_bounded_transition_matrix(big)
    small = spark.createDataFrame(
        [("START", "view", 3), ("view", "CONV", 2)], "s string, t string, c long"
    )
    assert sorted(_collect_bounded_transition_matrix(small)) == [
        ("START", "view", 3),
        ("view", "CONV", 2),
    ]
