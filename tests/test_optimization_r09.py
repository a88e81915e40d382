"""Focused pins for the round-9 optimization changes.

The lineage-cut helper (operators/lineage.cut) must keep the default
single-box behavior bit-identical to the bare
``localCheckpoint(eager=False)`` it replaced, while exposing the two
multi-node escape hatches (reliable checkpoint dir, DISK_ONLY storage
level for corpus-proportional frames)."""

from __future__ import annotations

import os

import pytest

from rocketmq_flink_spark.operators.lineage import cut


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_cut_default_is_local_checkpoint(spark):
    df = spark.range(10).selectExpr("id", "id * 2 AS x")
    out = cut(df)
    # lazy: nothing materialized at build, plan truncated to an
    # RDD-backed leaf exactly like bare localCheckpoint(eager=False)
    ref = df.localCheckpoint(eager=False)
    assert type(out) is type(ref)
    assert "LogicalRDD" in _plan(out) or "Checkpoint" in _plan(out)
    assert sorted(r.x for r in out.collect()) == [2 * i for i in range(10)]


def test_cut_big_honors_storage_level_env(spark, monkeypatch):
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    monkeypatch.setenv("SPARK_GRAFT_CUT_BIG_LEVEL", "DISK_ONLY")
    out = cut(df, big=True)
    assert sorted(r.k for r in out.collect())[:3] == [0, 0, 0]
    # the checkpoint block of the cut frame is disk-only: some cached
    # RDD in the context now reports useDisk && !useMemory (no other
    # test uses a disk-only level)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    levels = [
        (i.storageLevel().useDisk(), i.storageLevel().useMemory())
        for i in infos
        if i.numCachedPartitions() > 0
    ]
    assert (True, False) in levels
    # bounded frames ignore the knob: no error, plan cut as usual
    small = cut(df)
    assert sorted(r.k for r in small.collect())[:3] == [0, 0, 0]


def test_cut_big_rejects_bad_level(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CUT_BIG_LEVEL", "NOT_A_LEVEL")
    with pytest.raises(ValueError, match="NOT_A_LEVEL"):
        cut(spark.range(3), big=True)


def test_cut_uses_reliable_checkpoint_dir_when_set(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        df = spark.range(20).selectExpr("id", "id + 1 AS y")
        out = cut(df, big=True)
        assert [r.y for r in out.orderBy("id").collect()] == list(
            range(1, 21)
        )
        # blocks landed in the reliable checkpoint dir, not executor
        # storage: the dir is non-empty after materialization
        found = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert found, "reliable checkpoint wrote no files"
    finally:
        # reset so later tests get the executor-local default again
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


SF = "/root/testdata/sf0.01"


def _executed(spark, name):
    from rocketmq_flink_spark.plans.catalog import REGISTRY

    return (
        REGISTRY[name]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_scorer_stat_joins_stay_broadcast(spark):
    """The r09 postings prune builds idf/cf from lineage-cut frames
    (no Catalyst size stats): the explicit broadcast pins must keep the
    candidate/score joins hash joins — a silent fallback to sort-merge
    is the r08 shapley failure mode."""
    for name in ("bm25_search_docs", "query_likelihood_search"):
        plan = _executed(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_nb_model_frames_cut_without_smj(spark):
    """nb_train's cut model frames (cnt/counts/nd) are joined only via
    pinned broadcasts — and the occurrence stream must no longer be
    re-read once per model consumer (the r08 plan held 18 leaf reads)."""
    plan = _executed(spark, "nb_auc_eval")
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan ExistingRDD") <= 14


def test_embedding_near_dups_single_pipeline(spark):
    """groups/members/banded are cut once: the executed plan reads the
    materialized leaves, never re-running the distinct-vector shuffle
    per consumer (40 parquet scans in the r08 plan)."""
    plan = _executed(spark, "embedding_near_dups")
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


