"""Streaming robustness: kill a query mid-stream and restart from its
checkpoint — source offsets AND custom operator state must survive
(reference W7: union-state offset snapshot/restore + commit-on-
checkpoint, legacy/RocketMQSourceFunction.java:431-543; Spark analog:
the Structured Streaming offset/commit logs + state store under
checkpointLocation)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from rocketmq_flink_spark.functions import decode_envelope, encode_rows
from rocketmq_flink_spark.session import load_tables
from rocketmq_flink_spark.sources import register

SF = "/root/testdata/sf0.001"
EVENT_SCHEMA = "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP"


def _write_half(spark, root, topic, lo, hi):
    ev = (
        load_tables(spark, SF)["events"]
        .select("event_id", "user_id", "value", "ts")
        .where((F.col("event_id") >= lo) & (F.col("event_id") < hi))
    )
    env = encode_rows(
        ev,
        options={"topic": topic, "keyColumns": "event_id",
                 "writeKeysToBody": "true"},
        born_ts_col="ts",
    )
    env.write.format("rocketmq").options(path=root, topic=topic).mode(
        "append"
    ).save()


def test_offsets_resume_after_kill_no_loss_no_dup(spark, tmp_path):
    """Stop a relay stream mid-topic, append more messages, restart from
    the same checkpoint: the output topic must hold every message exactly
    once (offsets resumed from the offset log, not re-read; epoch commits
    idempotent)."""
    register(spark)
    root = str(tmp_path / "broker")
    ckpt = str(tmp_path / "ckpt")

    def relay():
        env = (
            spark.readStream.format("rocketmq")
            .options(path=root, topic="in")
            .load()
        )
        decoded = decode_envelope(env, EVENT_SCHEMA)
        out = encode_rows(
            decoded,
            options={"topic": "out", "keyColumns": "event_id",
                     "writeKeysToBody": "true"},
            born_ts_col="ts",
        )
        q = (
            out.writeStream.format("rocketmq")
            .options(path=root, topic="out")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write_half(spark, root, "in", 0, 500)
    relay()  # run 1: first half, then "killed"
    _write_half(spark, root, "in", 500, 1000)
    relay()  # run 2: must resume at the checkpointed offsets

    back = decode_envelope(
        spark.read.format("rocketmq").options(path=root, topic="out").load(),
        EVENT_SCHEMA,
    )
    ids = [r.event_id for r in back.select("event_id").collect()]
    assert len(ids) == 1000 and len(set(ids)) == 1000
    src = load_tables(spark, SF)["events"].select("event_id")
    assert set(ids) == {r.event_id for r in src.collect()}


def test_dedup_stream_restart_exactly_once(spark, tmp_path):
    """The get_spark session keeps its checkpoints through
    FileSystemBasedCheckpointFileManager, and a dedup relay stopped and
    restarted from its checkpoint still delivers each key once: run 2
    re-reads keys run 1 saw (dropped by the restored dedup state) and
    keys it sees twice itself."""
    from rocketmq_flink_spark.streaming.ops import streaming_dedup

    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager")
    register(spark)
    root = str(tmp_path / "broker3")
    ckpt = str(tmp_path / "ckpt3")

    def relay():
        env = spark.readStream.format("rocketmq").options(path=root, topic="in").load()
        fresh = streaming_dedup(decode_envelope(env, EVENT_SCHEMA), ["event_id"],
                                ts_col="ts", max_out_of_orderness="3650 days",
                                within_watermark=True)
        out = encode_rows(fresh, options={"keyColumns": "event_id",
                                          "writeKeysToBody": "true"}, born_ts_col="ts")
        q = (out.writeStream.format("rocketmq").options(path=root, topic="out")
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    _write_half(spark, root, "in", 0, 500)
    relay()
    _write_half(spark, root, "in", 400, 1000)
    _write_half(spark, root, "in", 900, 1000)
    relay()

    back = decode_envelope(
        spark.read.format("rocketmq").options(path=root, topic="out").load(),
        EVENT_SCHEMA,
    )
    ids = [r.event_id for r in back.select("event_id").collect()]
    assert len(ids) == 1000 and len(set(ids)) == 1000


def test_stateful_session_state_survives_restart(spark, tmp_path):
    """A session left OPEN when the query stops must keep accumulating
    after restart: run 2's events extend the run-1 session, and the
    emitted row merges events from both runs — proving the state store
    (not just offsets) was restored."""
    from rocketmq_flink_spark.streaming import sessionize_with_state

    register(spark)
    root = str(tmp_path / "broker2")
    ckpt = str(tmp_path / "ckpt2")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_events(rows):
        df = spark.createDataFrame(rows, "key BIGINT, ts TIMESTAMP")
        env = encode_rows(
            df,
            options={"topic": "s", "keyColumns": "key",
                     "writeKeysToBody": "true"},
            born_ts_col="ts",
        )
        env.write.format("rocketmq").options(path=root, topic="s").mode(
            "append"
        ).save()

    SESS_SCHEMA = (
        "key BIGINT, session_start_us BIGINT, session_end_us BIGINT, "
        "n_events BIGINT"
    )

    def run():
        # memory sink refuses checkpoint recovery, so emitted sessions go
        # through the durable rocketmq sink (exactly what a production
        # restartable pipeline would do)
        env = (
            spark.readStream.format("rocketmq")
            .options(path=root, topic="s")
            .load()
        )
        decoded = decode_envelope(env, "key BIGINT, ts TIMESTAMP").withWatermark(
            "ts", "0 seconds"
        )
        sess = sessionize_with_state(decoded, "key", "ts", "30 minutes")
        out = encode_rows(sess, options={"topic": "sess_out"})
        q = (
            out.writeStream.format("rocketmq")
            .options(path=root, topic="sess_out")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return decode_envelope(
            spark.read.format("rocketmq")
            .options(path=root, topic="sess_out")
            .load(),
            SESS_SCHEMA,
        )

    # run 1: two events 10 minutes apart -> one OPEN session, nothing emitted
    write_events([(7, t0), (7, t0 + dt.timedelta(minutes=10))])
    out1 = run()
    assert out1.count() == 0

    # run 2: an in-gap event extends the restored session; a far-future
    # event exceeds the gap, closing it with events from BOTH runs
    write_events(
        [(7, t0 + dt.timedelta(minutes=20)), (7, t0 + dt.timedelta(hours=2))]
    )
    out2 = run()
    rows = out2.collect()
    assert len(rows) == 1
    r = rows[0]
    us = lambda d: int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert r.key == 7
    assert r.n_events == 3  # 2 from run 1 + 1 from run 2: state survived
    assert r.session_start_us == us(t0)
    assert r.session_end_us == us(t0 + dt.timedelta(minutes=20))


def test_processing_time_lag_watermark(spark, tmp_path):
    """W3 approximation: with_processing_time_lag declares a watermark on
    an injected ingestion-time column; a processing-time tumbling window
    finalizes once a later batch's wall clock passes it."""
    import time

    from rocketmq_flink_spark.streaming import with_processing_time_lag

    register(spark)
    root = str(tmp_path / "broker3")

    def write_batch(ids):
        df = spark.createDataFrame([(i,) for i in ids], "k BIGINT")
        env = encode_rows(
            df, options={"topic": "p", "keyColumns": "k",
                         "writeKeysToBody": "true"},
        )
        env.write.format("rocketmq").options(path=root, topic="p").mode(
            "append"
        ).save()

    write_batch([1, 2, 3])
    env = spark.readStream.format("rocketmq").options(path=root, topic="p").load()
    decoded = decode_envelope(env, "k BIGINT")
    lagged = with_processing_time_lag(decoded, "0 seconds")
    agg = lagged.groupBy(F.window("proc_ts", "1 second")).agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("proctime_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.processAllAvailable()
    time.sleep(1.5)  # let wall clock pass the first 1s window
    write_batch([4])
    q.processAllAvailable()
    q.stop()
    # the batch-1 window closed once batch 2's proc time passed it
    total = spark.table("proctime_out").agg(F.sum("n")).first()[0]
    assert total is not None and total >= 3
