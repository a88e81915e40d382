"""Unit tests for the round-4 additions: reciprocal-rank fusion, the
fixed-point Naive Bayes classifier (vs a pure-Python witness), and the
diversity selectors."""

from __future__ import annotations

from rocketmq_flink_spark.operators.classify import (
    nb_model_ticks,
    nb_predict,
    nb_train,
)
from rocketmq_flink_spark.operators.fusion import rrf_fuse
from rocketmq_flink_spark.operators.retrieval import fp_log2_py


def test_rrf_fuse_hand_computed(spark):
    bm = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "qid LONG, doc LONG, rank INT"
    )
    dn = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "qid LONG, doc LONG, rank INT"
    )
    out = {
        r.doc: (r.rrf_ticks, r.bm25_rank, r.dense_rank, r.rank)
        for r in rrf_fuse({"bm25": bm, "dense": dn}, topk=10).collect()
    }
    s = 1_000_000_000
    assert out[11] == (s // 62 + s // 61, 2, 1, 1)  # in both lists: wins
    assert out[10] == (s // 61, 1, 0, 2)
    assert out[13] == (s // 62, 0, 2, 3)
    assert out[12] == (s // 63, 3, 0, 4)


def test_nb_matches_python_witness(spark):
    # tiny 2-class corpus over 8 buckets; python witness replays the
    # identical fixed-point arithmetic
    B = 8
    rows = [  # (doc, class, bucket)
        (0, "a", 0), (0, "a", 0), (0, "a", 1),
        (1, "a", 0), (1, "a", 2),
        (2, "b", 3), (2, "b", 3), (2, "b", 4),
        (3, "b", 3), (3, "b", 5),
    ]
    test_rows = [(10, 0), (10, 1), (11, 3), (11, 4), (12, 0), (12, 3)]
    trn = spark.createDataFrame(rows, "doc_id LONG, source STRING, b INT")
    tst = spark.createDataFrame(test_rows, "doc_id LONG, b INT")
    counts, priors = nb_train(trn, B)
    model = nb_model_ticks(counts, tst, B)
    got = {
        r.doc: r.predicted
        for r in nb_predict(tst, model, priors).collect()
    }

    # python witness
    from collections import Counter

    cnt = Counter((c, b) for _, c, b in rows)
    tot = Counter()
    for (c, _), n in cnt.items():
        tot[c] += n
    ndc = {"a": 2, "b": 2}
    nd = 4
    prior = {c: -fp_log2_py(nd, ndc[c]) for c in ndc}

    def ticks(c, b):
        return -fp_log2_py(tot[c] + B, cnt.get((c, b), 0) + 1)

    want = {}
    from itertools import groupby

    for doc, grp in groupby(sorted(test_rows), key=lambda r: r[0]):
        bs = [b for _, b in grp]
        scores = {
            c: prior[c] + sum(ticks(c, b) for b in bs) for c in ndc
        }
        want[doc] = min(scores, key=lambda c: (-scores[c], c))
    assert got == want
    assert got[10] == "a" and got[11] == "b"  # sanity: separable docs


def test_mmr_select_prefers_diversity_over_pure_relevance(spark):
    """With two tight clusters near the query, MMR must not return
    only the nearest cluster: rank 2 comes from the second cluster
    even though cluster-1 members are closer to the query."""
    from rocketmq_flink_spark.operators.similarity import mmr_select

    rows = []
    # cluster A hugs the query at distance ~0.01; cluster B sits at 0.2
    for i, x in enumerate((0.010, 0.011, 0.012, 0.013)):
        rows.append((i, [x, 0.0]))
    for i, x in enumerate((0.200, 0.201, 0.202)):
        rows.append((10 + i, [x, 0.0]))
    # the hash-seeded query vector is one of the rows; whichever it is,
    # the selected set must span BOTH clusters within the first 3 picks
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_select(df, k=3, pool=6).collect()
    picked = [r.vec_id for r in got]
    assert len(picked) == 3 and len(set(picked)) == 3
    clusters = {0 if v < 10 else 1 for v in picked}
    assert clusters == {0, 1}
    # rank 1 is the plain nearest neighbor (gain 0 by convention)
    assert got[0].mmr_gain == 0.0


def test_mmr_select_handles_duplicate_vectors(spark):
    """Exact-duplicate embeddings must not crash or repeat ids."""
    from rocketmq_flink_spark.operators.similarity import mmr_select

    rows = [(i, [0.5, 0.5]) for i in range(4)] + [
        (10, [0.1, 0.9]), (11, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mmr_select(df, k=4, pool=6).collect()
    ids = [r.vec_id for r in got]
    assert len(ids) == len(set(ids)) == 4


def test_facility_location_gains_nonincreasing_and_distinct(spark):
    """Greedy facility-location: marginal gains must be non-increasing
    (submodularity) and picks distinct; rank-1 pick is the candidate
    with the largest total clamped similarity."""
    from rocketmq_flink_spark.operators.similarity import (
        facility_location_select,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (3, [0.1, 0.9]), (4, [0.5, 0.5]), (5, [0.7, 0.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = facility_location_select(df, k=3, pool=6).collect()
    ids = [r.vec_id for r in got]
    gains = [r.coverage_gain for r in got]
    assert len(set(ids)) == 3
    assert all(gains[i] >= gains[i + 1] for i in range(len(gains) - 1))
    assert all(g >= 0 for g in gains)
