"""Tests for round-1 coverage additions: topic selectors + multi-topic
sink (R1-R3), fixed-width binary codec (D4), simple key-value schemas
(D7-D9), retry/backoff (O1), cosine kNN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rocketmq_flink_spark.functions import (
    decode_envelope,
    decode_fixed_width,
    decode_simple_key_value,
    encode_fixed_width,
    encode_rows,
    encode_simple_key_value,
    simple_topic_selector,
)
from rocketmq_flink_spark.session import load_tables
from rocketmq_flink_spark.sources import register
from rocketmq_flink_spark.sources.retry import call_with_retry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def broker_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("broker_extras"))


def test_multi_topic_selector_routing(spark, broker_root):
    register(spark)
    ev = (
        load_tables(spark, SF)["events"]
        .select("event_id", "event_type")
        .withColumn("route", F.concat(F.lit("sel_"), F.col("event_type")))
    )
    env = encode_rows(
        ev,
        options={"keyColumns": "event_id", "writeKeysToBody": "true"},
        topic_col=simple_topic_selector("route", "sel_default"),
    )
    env.write.format("rocketmq").options(
        path=broker_root, topic="sel_default", numQueues=4
    ).mode("append").save()

    by_type = dict(
        ev.groupBy("event_type").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    total = 0
    for etype, expected in by_type.items():
        got = (
            spark.read.format("rocketmq")
            .options(path=broker_root, topic=f"sel_{etype}")
            .load()
        )
        assert got.count() == expected
        # every envelope row carries its own topic
        assert got.where(F.col("topic") != f"sel_{etype}").count() == 0
        total += expected
    assert total == 1000


def test_selector_default_fallback(spark, broker_root):
    register(spark)
    df = spark.createDataFrame(
        [(1, "t_a"), (2, None), (3, "t_a")], "id INT, route STRING"
    )
    env = encode_rows(
        df.select("id", "route"),
        options={"keyColumns": "id", "writeKeysToBody": "true"},
        topic_col=simple_topic_selector("route", "t_fallback"),
    )
    env.write.format("rocketmq").options(
        path=broker_root, topic="t_fallback", numQueues=2
    ).mode("append").save()
    assert (
        spark.read.format("rocketmq")
        .options(path=broker_root, topic="t_fallback")
        .load()
        .count()
        == 1
    )
    assert (
        spark.read.format("rocketmq")
        .options(path=broker_root, topic="t_a")
        .load()
        .count()
        == 2
    )


LAYOUT = [
    ("i8", "bigint"),
    ("i4", "int"),
    ("i2", "smallint"),
    ("i1", "tinyint"),
    ("f4", "float"),
    ("f8", "double"),
    ("ok", "boolean"),
    ("ts", "timestamp"),
]


@pytest.fixture(scope="module")
def typed_rows(spark):
    return spark.createDataFrame(
        [
            (2**40, -7, 300, 5, 1.5, -2.25, True, "2024-03-01 12:00:00"),
            (-1, 2**31 - 1, -300, -5, -0.5, 1e300, False, "1999-12-31 23:59:59"),
            (0, 0, 0, 0, 0.0, 0.0, True, "1970-01-01 00:00:00"),
        ],
        "i8 BIGINT, i4 INT, i2 SMALLINT, i1 TINYINT, f4 FLOAT, f8 DOUBLE, "
        "ok BOOLEAN, ts_s STRING",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_binary_codec_roundtrip_exact(spark, typed_rows):
    packed = encode_fixed_width(typed_rows, LAYOUT)
    width = 8 + 4 + 2 + 1 + 4 + 8 + 1 + 8
    assert packed.select(F.octet_length("value").alias("w")).where(
        F.col("w") != width
    ).count() == 0
    decoded = decode_fixed_width(packed, LAYOUT)
    assert decoded.exceptAll(typed_rows.select(*[n for n, _ in LAYOUT])).count() == 0
    assert decoded.count() == 3


def test_binary_codec_dirty_width(spark, typed_rows):
    packed = encode_fixed_width(typed_rows, LAYOUT)
    chopped = packed.limit(1).withColumn(
        "value", F.expr("substring(value, 1, 10)")
    ).unionByName(packed.subtract(packed.limit(1)))
    skip = decode_fixed_width(chopped, LAYOUT, length_check="SKIP")
    assert skip.count() == 2
    pad = decode_fixed_width(chopped, LAYOUT, length_check="PAD")
    assert pad.count() == 3
    assert pad.where(F.col("i8").isNull()).count() == 1


def test_simple_key_value_identity(spark):
    df = spark.createDataFrame(
        [("k1", "hello"), ("k2", "wörld ✓"), ("k3", "")],
        "key STRING, value STRING",
    )
    back = decode_simple_key_value(encode_simple_key_value(df))
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_retry_succeeds_after_transient_failures():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    out = call_with_retry(flaky, attempts=5, base_ms=200, sleep=sleeps.append)
    assert out == "ok" and calls["n"] == 3
    assert sleeps == [0.2, 0.4]  # exponential backoff


def test_retry_gives_up_and_reraises():
    sleeps: list[float] = []

    def always_bad():
        raise OSError("still down")

    with pytest.raises(OSError):
        call_with_retry(always_bad, attempts=3, base_ms=100, sleep=sleeps.append)
    assert len(sleeps) == 2  # attempts-1 sleeps


def test_retry_does_not_mask_logic_errors():
    def bug():
        raise ValueError("not transient")

    with pytest.raises(ValueError):
        call_with_retry(bug, sleep=lambda s: pytest.fail("slept on logic error"))


def test_knn_cosine_agrees_with_numpy(spark):
    import numpy as np

    from rocketmq_flink_spark.operators.similarity import knn_cosine

    emb = load_tables(spark, SF)["embeddings"]
    got = {
        (r.qid, r.rank): r.vec_id
        for r in knn_cosine(emb.where(F.col("vec_id") < 3), emb, k=3).collect()
    }
    rows = emb.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qpos in np.where(ids < 3)[0]:
        sims = unit @ unit[qpos]
        order = sorted(
            [(float(-sims[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != ids[qpos]]
        )
        for rank in (1, 2, 3):
            assert got[(int(ids[qpos]), rank)] == order[rank - 1][1]


def test_datetime_and_offset_options(spark, broker_root):
    register(spark)
    ev = load_tables(spark, SF)["events"].select("event_id", "ts")
    env = encode_rows(
        ev,
        options={"keyColumns": "event_id", "writeKeysToBody": "true"},
        born_ts_col="ts",
    )
    env.write.format("rocketmq").options(
        path=broker_root, topic="t_times", numQueues=2
    ).mode("append").save()

    # endTime (datetime string, reference factory format) bounds the scan
    # by store timestamp; everything was stored "now", so a past endTime
    # reads nothing and a future one reads all
    past = (
        spark.read.format("rocketmq")
        .options(path=broker_root, topic="t_times", endTime="2020-01-01 00:00:00")
        .load()
    )
    assert past.count() == 0
    future = (
        spark.read.format("rocketmq")
        .options(path=broker_root, topic="t_times", endTime="2090-01-01 00:00:00")
        .load()
    )
    assert future.count() == 1000

    # timeZone shifts the parsed instant (endTime in a UTC+14 zone is 14h
    # earlier as an instant than the same text in UTC)
    from rocketmq_flink_spark.config import parse_datetime_ms

    utc = parse_datetime_ms("2024-06-01 00:00:00")
    kiritimati = parse_datetime_ms("2024-06-01 00:00:00", "Pacific/Kiritimati")
    assert utc - kiritimati == 14 * 3600 * 1000

    # startMessageOffset skips the first N messages of every queue
    skip3 = (
        spark.read.format("rocketmq")
        .options(path=broker_root, topic="t_times", startMessageOffset="3")
        .load()
    )
    assert skip3.count() == 1000 - 2 * 3  # 2 queues x 3 skipped
    assert skip3.agg(F.min("offset")).first()[0] == 3


def test_load_tables_is_lazy(spark, monkeypatch):
    """Each query build must pay only for the parquet footers it
    touches — eager loading of all 10 fixture tables cost ~1s of driver
    time per catalog query (measured; see session._LazyTables)."""
    from rocketmq_flink_spark import session as S

    opened = []
    real = S._read_table

    def counting(spark_, sf_dir, name):
        opened.append(name)
        return real(spark_, sf_dir, name)

    monkeypatch.setattr(S, "_read_table", counting)
    t = S.load_tables(spark, "/root/testdata/sf0.001")
    assert opened == []
    t["documents"]
    t["documents"]  # memoized: second access must not re-open
    assert opened == ["documents"]
    t["orders"]
    assert opened == ["documents", "orders"]


def test_sql_ddl_options_not_forwarded_probe(spark):
    """PARITY S10a: pins the probed runtime behavior that closed the SQL
    DDL item — `CREATE TABLE ... USING <python-datasource> OPTIONS(...)`
    hands the reader an EMPTY options map at SELECT time on this Spark,
    while the DataFrame read API forwards options. If this test ever
    FAILS (options start arriving), reopen S10a and wire
    `CREATE TABLE ... USING rocketmq` end-to-end."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class _ProbeReader(DataSourceReader):
        def __init__(self, opts):
            self._opts = dict(opts)

        def read(self, partition):
            yield (repr(sorted(self._opts)),)

    class _ProbeSource(DataSource):
        @classmethod
        def name(cls):
            return "ddl_opt_probe"

        def schema(self):
            return "seen string"

        def reader(self, schema):
            return _ProbeReader(self.options)

    spark.dataSource.register(_ProbeSource)
    spark.sql("DROP TABLE IF EXISTS ddl_probe_tbl")
    spark.sql(
        "CREATE TABLE ddl_probe_tbl USING ddl_opt_probe"
        " OPTIONS (alpha 'a1', topic 't1')"
    )
    try:
        seen = spark.sql("SELECT seen FROM ddl_probe_tbl").collect()[0][0]
    finally:
        spark.sql("DROP TABLE IF EXISTS ddl_probe_tbl")
    assert seen == "[]", (
        "Spark now forwards DDL options to Python DataSources "
        f"(got {seen}) — reopen PARITY S10a and implement the DDL path"
    )
    # contrast: the read API must forward options (the supported surface)
    api_seen = (
        spark.read.format("ddl_opt_probe").option("alpha", "a2").load()
        .collect()[0][0]
    )
    assert "alpha" in api_seen


_SESSION_DEFAULTS_PROBE = """
import json
from pyspark.sql import SparkSession
from rocketmq_flink_spark import session

seen = {}

class _Session:
    class sparkContext:
        @staticmethod
        def setLogLevel(level):
            pass

def _capture(builder):
    seen.update(builder._options)
    return _Session()

SparkSession.Builder.getOrCreate = _capture
session.get_spark()
print(json.dumps(seen))
"""


def test_session_defaults_fit_the_machine():
    """Without SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM the session sizes
    itself to this process's cores and to half the machine's memory
    (at most 48g), instead of local[32] with a 48g driver."""
    import json
    import os
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    out = subprocess.run([sys.executable, "-c", _SESSION_DEFAULTS_PROBE],
                         env=env, capture_output=True, text=True, check=True)
    conf = json.loads(out.stdout.strip().splitlines()[-1])
    cores = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)
    mem = conf["spark.driver.memory"]
    assert mem.endswith("m")
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**21
    assert int(mem[:-1]) == min(int(half_mb), 48 * 1024)
