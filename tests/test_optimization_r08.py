"""Focused pins for the round-8 optimization rewrites: each changed
operator internal must be result-identical to the shape it replaced
(the catalog-level proof is the 3-SF oracle re-verification recorded in
OPTIMIZATION_r08.md; these pin the operator-level corner cases)."""

from __future__ import annotations

import pytest


def test_nb_predict_tie_breaks_to_smallest_label(spark):
    """The argmax is now a min(struct(-score, c)) aggregation; an exact
    score tie must still resolve to the lexicographically smallest
    class label, as the row_number window it replaced did."""
    from rocketmq_flink_spark.operators.classify import (
        nb_model_ticks,
        nb_predict,
        nb_train,
    )

    B = 16
    # perfectly symmetric classes: identical counts per bucket pattern
    rows = [
        (0, "a", 0), (0, "a", 1),
        (1, "b", 0), (1, "b", 1),
    ]
    trn = spark.createDataFrame(rows, "doc_id LONG, source STRING, b INT")
    tst = spark.createDataFrame([(9, 0), (9, 1)], "doc_id LONG, b INT")
    counts, priors = nb_train(trn, B)
    model = nb_model_ticks(counts, tst, B)
    got = nb_predict(tst, model, priors).collect()
    assert len(got) == 1
    assert got[0].predicted == "a"  # tie -> smallest label


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
