"""E1 demo pipeline (SURVEY §3 E1 / reference README.md:144-156): the
reference's flagship scenario — an orders table written through the sink
with dynamic user-property columns, then read back with a SQL92-style
property filter — driven end-to-end through the SQL view surface.

Plus property-based codec round-trip tests (hypothesis): for arbitrary
rows and delimiters, decode ∘ encode = identity.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rocketmq_flink_spark.functions import decode_envelope, encode_rows
from rocketmq_flink_spark.session import load_tables
from rocketmq_flink_spark.sources import register
from rocketmq_flink_spark.sql import create_table

SF = "/root/testdata/sf0.001"


def test_e1_demo_pipeline(spark, tmp_path):
    """orders -> sink (dynamic properties) -> property-filtered read -> SQL."""
    register(spark)
    root = str(tmp_path / "broker_e1")

    orders = load_tables(spark, SF)["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    env = encode_rows(
        orders,
        options={
            "topic": "orders",
            "keyColumns": "o_orderkey",
            "writeKeysToBody": "true",
            "isDynamicProperty": "true",
            "dynamicPropertyColumns": "o_orderstatus",
        },
    )
    env.write.format("rocketmq").options(
        path=root, topic="orders", numQueues=4
    ).mode("append").save()

    # the reference's CREATE TABLE ... WITH('connector'='rocketmq') analog
    # o_orderstatus was routed to the props map (dynamic property), so the
    # read side declares it as a header field, not a body field
    create_table(
        spark,
        "orders_mq",
        {"path": root, "topic": "orders", "headerFields": "o_orderstatus"},
        schema="o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
        "o_orderstatus STRING",
    )
    # SQL92 property filter (PropertyFilterExamples.java:24 analog): the
    # dynamic property rides the props map; filter + aggregate in SQL
    raw = spark.read.format("rocketmq").options(path=root, topic="orders").load()
    raw.createOrReplaceTempView("orders_raw")
    got = spark.sql(
        "SELECT count(*) AS n, round(sum(CAST(props['o_orderstatus'] IS NOT NULL "
        "AS INT)), 0) AS with_prop FROM orders_raw WHERE props['o_orderstatus'] = 'F'"
    ).first()
    expect = orders.where(F.col("o_orderstatus") == "F").count()
    assert got.n == expect == got.with_prop

    # and the typed view answers relational SQL
    agg = spark.sql(
        "SELECT o_orderstatus, count(*) AS n, "
        "sum(CAST(o_totalprice AS DECIMAL(14,2))) AS s "
        "FROM orders_mq GROUP BY o_orderstatus"
    )
    batch = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("s"),
    )
    assert agg.exceptAll(batch).count() == 0
    assert batch.exceptAll(agg).count() == 0


ROW = st.tuples(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.text(
        alphabet=st.characters(
            codec="utf-8",
            exclude_characters=["\x01", "\n", "\r", "\\", "\x00"],
            exclude_categories=["Cs"],
        ),
        max_size=40,
    ),
    st.booleans(),
    st.one_of(st.none(), st.integers(min_value=-(10**6), max_value=10**6)),
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(ROW, min_size=1, max_size=8))
def test_codec_roundtrip_property(spark, rows):
    """decode ∘ encode = identity for arbitrary typed rows (delimited
    text layout, null handling, unicode bodies)."""
    df = spark.createDataFrame(
        rows, "a BIGINT, b STRING, c BOOLEAN, d BIGINT"
    )
    env = encode_rows(df, options={})
    back = decode_envelope(env, "a BIGINT, b STRING, c BOOLEAN, d BIGINT")
    # empty-string bodies for all-empty rows decode as empty lines (the
    # line-split drops them) — normalize both sides the same way
    src = df.collect()
    got = back.collect()
    def key(r):
        return (r.a, r.b, r.c, r.d)
    assert sorted(map(key, got)) == sorted(map(key, src))


def test_training_data_pipeline_example(spark):
    """The examples/ pipeline must run end to end with every stage
    strictly bounded by the previous one and a nonzero final output."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    import training_data_pipeline as tp

    stats = tp.run(spark, "/root/testdata/sf0.001")
    order = sorted(stats)
    assert stats["0_ingested"] > 0
    # monotone non-increasing through filter/decontaminate/dedup/sample
    for a, b in zip(order[:4], order[1:5]):
        assert stats[b] <= stats[a], stats
    assert stats["4_sampled"] > 0 and stats["5_packs"] > 0


def test_streaming_connector_demo_example(spark, tmp_path):
    """The examples/ streaming demo must run end to end and land
    windowed aggregates in the output topic."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    import streaming_connector_demo as sd

    n = sd.run(spark, SF, str(tmp_path / "demo_broker"))
    assert n > 0


def test_corpus_monitoring_example(spark):
    """The examples/ monitoring job must produce every report section
    with sane values: positive vocab estimates, CM >= exact guarantees
    implied by top-token counts, all clusters populated, and the fuzzy
    contamination alarm counting docs."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    import corpus_monitoring as cm

    report = cm.run(spark, "/root/testdata/sf0.001")
    assert set(report) == {
        "vocab_est_by_source", "top_tokens_cm", "surprisal_by_source",
        "cluster_sizes", "fuzzy_contaminated_docs", "token_drift_tv",
        "doc_len_quantiles",
    }
    assert all(v > 0 for v in report["vocab_est_by_source"].values())
    assert len(report["top_tokens_cm"]) == 5
    assert all(v > 0 for v in report["top_tokens_cm"].values())
    assert all(v > 0 for v in report["surprisal_by_source"].values())
    assert sum(report["cluster_sizes"].values()) == 500  # every vector
    assert report["fuzzy_contaminated_docs"] >= 0
    assert 0.0 <= report["token_drift_tv"] <= 1.0
    q = report["doc_len_quantiles"]
    assert q["p50"] <= q["p95"] <= q["p99"]


def test_corpus_curation_example(spark):
    """The examples/ curation job must run end to end: line dedup
    removes some boilerplate, the containment scan keeps a non-empty
    subset of the corpus, and the BPE trainer runs every merge step."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples")
    )
    import corpus_curation_pipeline as cc

    out = cc.run(spark, SF)
    assert set(out) == {
        "line_dedup_removed_lines", "docs_kept_after_containment",
        "bpe_merges", "post_bpe_symbols",
    }
    n_docs = load_tables(spark, SF)["documents"].count()
    assert out["line_dedup_removed_lines"] > 0
    assert 0 < out["docs_kept_after_containment"] < n_docs
    assert len(out["bpe_merges"]) == 6
    counts = [c for _, _, c in out["bpe_merges"]]
    assert all(c > 0 for c in counts)
    assert out["post_bpe_symbols"] > 0
