"""End-to-end tests for the broker + rocketmq DataSource (batch and
streaming, read and write), mirroring the reference's source/sink
semantics: offset bounds, tag filtering, bounded reads, epoch commits."""

from __future__ import annotations

import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rocketmq_flink_spark.functions import decode_envelope, encode_rows
from rocketmq_flink_spark.session import load_tables
from rocketmq_flink_spark.sources import Broker, register
from rocketmq_flink_spark.sources.broker import SEGMENT_SCHEMA
from rocketmq_flink_spark.sources.datasource import RocketMQBatchReader, _rate_limit

SF = "/root/testdata/sf0.001"
EVENT_SCHEMA = "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP"


@pytest.fixture(scope="module")
def broker_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("broker"))


def _write_events(spark, root, topic, num_queues=4):
    ev = load_tables(spark, SF)["events"].select("event_id", "user_id", "value", "ts")
    env = encode_rows(
        ev,
        options={"topic": topic, "keyColumns": "event_id", "writeKeysToBody": "true"},
        born_ts_col="ts",
    )
    (
        env.write.format("rocketmq")
        .option("path", root)
        .option("topic", topic)
        .option("numQueues", num_queues)
        .mode("append")
        .save()
    )


@pytest.fixture(scope="module")
def t_round(spark, broker_root):
    """Write the 1,000 fixture events to topic t_round of broker_root,
    once, for every test of this module that reads it."""
    register(spark)
    _write_events(spark, broker_root, "t_round")


@pytest.mark.usefixtures("t_round")
def test_write_then_batch_read_roundtrip(spark, broker_root):
    env = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_round")
        .load()
    )
    assert env.count() == 1000
    # metadata columns present and sane
    row = env.select("topic", "queue_id", "offset", "msg_id").first()
    assert row.topic == "t_round" and row.msg_id.startswith("t_round-")

    decoded = decode_envelope(env, EVENT_SCHEMA)
    src = load_tables(spark, SF)["events"].select(
        "event_id", "user_id", "value", "ts"
    )
    assert decoded.exceptAll(src).count() == 0
    assert src.exceptAll(decoded).count() == 0


@pytest.mark.usefixtures("t_round")
def test_offsets_contiguous_per_queue(spark, broker_root):
    broker = Broker(broker_root)
    for q in broker.queues("t_round"):
        tbl = broker.read_range("t_round", q, 0, broker.latest_offset("t_round", q))
        offs = tbl.column("offset").to_pylist()
        assert offs == list(range(len(offs)))


@pytest.mark.usefixtures("t_round")
def test_starting_offsets_latest_and_explicit(spark, broker_root):
    latest = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_round")
        .option("startingOffsets", "latest")
        .load()
    )
    assert latest.count() == 0

    broker = Broker(broker_root)
    q0 = broker.queues("t_round")[0]
    explicit = {str(q): 10**9 for q in broker.queues("t_round")}
    explicit[str(q0)] = broker.latest_offset("t_round", q0) - 5
    import json

    some = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_round")
        .option("startingOffsets", json.dumps(explicit))
        .load()
    )
    # 5 from q0; the 10**9 starts clamp to empty ranges
    assert some.count() == 5


def test_tag_filter_broker_side(spark, broker_root):
    ev = load_tables(spark, SF)["events"].select(
        "event_id", "user_id", "value", "ts", "event_type"
    )
    env = encode_rows(
        ev,
        options={
            "topic": "t_tags",
            "isDynamicTag": "true",
            "dynamicTagColumn": "event_type",
        },
        born_ts_col="ts",
    )
    env.write.format("rocketmq").option("path", broker_root).option(
        "topic", "t_tags"
    ).mode("append").save()

    got = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_tags")
        .option("tag", "purchase || click")
        .load()
    )
    want = ev.where(F.col("event_type").isin("purchase", "click")).count()
    assert got.count() == want
    assert set(r.tags for r in got.select("tags").distinct().collect()) == {
        "purchase",
        "click",
    }


def test_bounded_read_ending_timestamp(spark, broker_root):
    # two commits with distinct store timestamps
    df1 = spark.range(10).select(
        F.lit(None).cast("string").alias("keys"),
        F.lit(None).cast("string").alias("tags"),
        F.lit(None).cast("map<string,string>").alias("props"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("value"),
        F.current_timestamp().alias("born_ts"),
    )
    for topic_write in range(2):
        df1.write.format("rocketmq").option("path", broker_root).option(
            "topic", "t_bounded"
        ).option("numQueues", 1).mode("append").save()
        if topic_write == 0:
            time.sleep(1.2)
            cut_ms = int(time.time() * 1000)
            time.sleep(1.2)

    bounded = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_bounded")
        .option("endingTimestamp", str(cut_ms))
        .load()
    )
    assert bounded.count() == 10  # only the first commit
    full = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_bounded")
        .load()
    )
    assert full.count() == 20


@pytest.mark.usefixtures("t_round")
def test_streaming_read_available_now(spark, broker_root, tmp_path):
    register(spark)
    stream = (
        spark.readStream.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_round")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_read_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_read"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.sql("SELECT count(*) AS n FROM stream_read_out").first().n
    assert total == 1000


@pytest.mark.usefixtures("t_round")
def test_streaming_read_with_rate_limit(spark, broker_root, tmp_path):
    register(spark)
    stream = (
        spark.readStream.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_round")
        .option("maxOffsetsPerTrigger", "300")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_rate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    total = spark.sql("SELECT count(*) AS n FROM stream_rate_out").first().n
    assert total == 1000
    n_rows_per_batch = [
        p["numInputRows"] for p in (q.recentProgress or []) if p["numInputRows"] > 0
    ]
    assert max(n_rows_per_batch) <= 300
    assert len(n_rows_per_batch) >= 4  # 1000 / 300 -> at least 4 batches


def test_streaming_write_epochs(spark, broker_root, tmp_path):
    src_dir = str(tmp_path / "srcfiles")
    import shutil, os

    os.makedirs(src_dir)
    shutil.copy(f"{SF}/documents.parquet", f"{src_dir}/documents.parquet")

    docs = spark.read.parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(src_dir)
        .select(
            F.col("doc_id").cast("string").alias("keys"),
            F.col("lang").alias("tags"),
            F.lit(None).cast("map<string,string>").alias("props"),
            F.encode(F.col("text"), "UTF-8").alias("value"),
            F.current_timestamp().alias("born_ts"),
        )
    )
    q = (
        stream.writeStream.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_write"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.read.format("rocketmq")
        .option("path", broker_root)
        .option("topic", "t_stream_sink")
        .load()
    )
    assert got.count() == docs.count()
    # keys routed deterministically; tags carried through
    assert got.where(F.col("tags") == "en").count() == docs.where(
        F.col("lang") == "en"
    ).count()


# --- ACL (O3) --------------------------------------------------------------


def test_acl_enforced_on_read_and_write(spark, tmp_path):
    """Broker-side ACL (RocketMQConfig ACCESS_KEY/SECRET_KEY ->
    AclClientRPCHook analog): with an ACL installed, reads and writes
    without valid credentials fail; valid credentials round-trip."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from rocketmq_flink_spark.sources import register, set_acl

    register(spark)
    root = str(tmp_path / "acl_broker")
    df = spark.range(10).selectExpr(
        "'t_acl' AS topic", "CAST(id AS STRING) AS keys",
        "CAST(NULL AS STRING) AS tags",
        "CAST(NULL AS MAP<STRING,STRING>) AS props",
        "CAST(CAST(id AS STRING) AS BINARY) AS value",
        "current_timestamp() AS born_ts",
    )
    set_acl(root, {"user1": "s3cret"})

    write = (
        df.write.format("rocketmq").mode("append")
    )
    with pytest.raises(Exception) as ei:
        write.options(path=root, topic="t_acl").save()
    assert "ACL rejected" in str(ei.value)
    with pytest.raises(Exception) as ei:
        write.options(
            path=root, topic="t_acl", accessKey="user1", secretKey="wrong"
        ).save()
    assert "ACL rejected" in str(ei.value)

    write.options(
        path=root, topic="t_acl", accessKey="user1", secretKey="s3cret"
    ).save()

    read = spark.read.format("rocketmq")
    with pytest.raises(Exception) as ei:
        read.options(path=root, topic="t_acl").load().count()
    assert "ACL rejected" in str(ei.value)
    n = (
        read.options(
            path=root, topic="t_acl", accessKey="user1", secretKey="s3cret"
        ).load().count()
    )
    assert n == 10

    # disabling the ACL restores open access
    set_acl(root, {})
    assert read.options(path=root, topic="t_acl").load().count() == 10


def test_ending_offsets_snapshot_replay(spark, broker_root):
    """`endingOffsets` (round 8, W7 batch replay): a per-queue offset
    snapshot taken between two commits must split the topic exactly —
    read-to-snapshot returns precisely the first commit, read-from-
    snapshot precisely the second, with no loss or dup at the
    boundary."""
    import json

    topic = "replay_bound"
    ev = load_tables(spark, SF)["events"].select(
        "event_id", "user_id", "value", "ts"
    )

    def commit(cond):
        env = encode_rows(
            ev.where(cond),
            options={"topic": topic, "keyColumns": "event_id",
                     "writeKeysToBody": "true"},
            born_ts_col="ts",
        )
        env.write.format("rocketmq").option("path", broker_root).option(
            "topic", topic
        ).option("numQueues", "4").mode("append").save()

    commit(F.col("event_id") % 3 == 0)
    b = Broker(broker_root)
    snap = {str(q): b.latest_offset(topic, q) for q in b.queues(topic)}
    commit(F.col("event_id") % 3 != 0)

    def ids(**opts):
        df = (
            spark.read.format("rocketmq")
            .option("path", broker_root).option("topic", topic)
            .options(**opts).load()
        )
        dec = decode_envelope(df, EVENT_SCHEMA)
        return {r.event_id for r in dec.select("event_id").collect()}

    want_all = {r.event_id for r in ev.select("event_id").collect()}
    first = ids(endingOffsets=json.dumps(snap))
    second = ids(startingOffsets=json.dumps(snap))
    assert first == {i for i in want_all if i % 3 == 0}
    assert second == {i for i in want_all if i % 3 != 0}
    assert first | second == want_all and not (first & second)
    # "latest" spec and the "*" wildcard resolve too
    assert ids(endingOffsets="latest") == want_all
    assert ids(startingOffsets=json.dumps({"*": 0})) == want_all


# -- timestamp seek and task-slot packing ---------------------------------


def _write_segments(root, topic, queue_id, segments):
    """Write segments [(store_ts list, row_group_size, write_statistics,
    committed)] back to back into one queue. A committed segment goes
    through the commit path with its first store_ts as the commit's
    store time. The rest are raw files in the layout that stores
    offset, store_ts and msg_id, bypassing the commit path so store_ts
    can be anything (unsorted, repeated) and files can lack
    statistics."""
    qdir = os.path.join(root, topic, f"queue-{queue_id}")
    os.makedirs(qdir, exist_ok=True)
    broker = Broker(root)
    start = 0
    for store, row_group_size, stats, committed in segments:
        n = len(store)
        offs = list(range(start, start + n))
        tbl = pa.Table.from_pydict(
            {
                "offset": offs,
                "born_ts": [0] * n,
                "store_ts": store,
                "msg_id": [f"{topic}-{queue_id}-{o}" for o in offs],
                "keys": [None] * n,
                "tags": ["a"] * n,
                "props": [[]] * n,
                "body": [b"x"] * n,
            },
            schema=SEGMENT_SCHEMA,
        )
        if committed:
            broker.commit_tmp(topic, [(queue_id, broker.write_tmp(topic, tbl))],
                              store_ts_us=store[0])
        else:
            pq.write_table(tbl, os.path.join(qdir, f"{start:020d}-{n}.parquet"),
                           row_group_size=row_group_size, write_statistics=stats)
        start += n
    return start


_segment = st.tuples(
    st.lists(st.integers(0, 40).map(lambda ms: ms * 1000), min_size=1,
             max_size=20),
    st.integers(1, 6),  # row_group_size
    st.booleans(),  # write_statistics
    st.booleans(),  # committed: store time in the name, not in the file
).map(  # a committed segment has one store time, its first
    lambda seg: ([seg[0][0]] * len(seg[0]), *seg[1:]) if seg[3] else seg)


@settings(max_examples=60, deadline=None)
@given(segments=st.lists(_segment, max_size=4), data=st.data())
def test_offset_for_timestamp_matches_linear_scan(segments, data):
    """The seek returns what a scan of every row in log order returns,
    for unsorted store_ts within and across segments, small row groups,
    files without statistics, and queues that mix committed segments
    with segments that store offset, store_ts and msg_id; an
    endingTimestamp read stops at the same offset; and every row reads
    back with the offset, msg_id and store_ts the stored layout gives."""
    store = [ts for seg, *_ in segments for ts in seg]
    edges = [-1, 0] + [v for ts in store for v in (ts - 1, ts, ts + 1)]
    ts_us = data.draw(st.sampled_from(edges) | st.integers(-1000, 42_000))
    end_ms = data.draw(st.integers(-1, 41))

    def first_at_or_after(t):
        return next((i for i, s in enumerate(store) if s >= t), len(store))

    with tempfile.TemporaryDirectory() as root:
        latest = _write_segments(root, "t", 0, segments)
        assert latest == len(store)
        broker = Broker(root)
        assert broker.offset_for_timestamp("t", 0, ts_us) == first_at_or_after(ts_us)

        reader = RocketMQBatchReader(
            {"path": root, "topic": "t", "endingTimestamp": str(end_ms)}
        )
        got = [o for p in reader.partitions() for b in reader.read(p)
               for o in b.column("offset").to_pylist()]
        assert got == list(range(first_at_or_after((end_ms + 1) * 1000)))

        want = {"offset": list(range(len(store))),
                "msg_id": [f"t-0-{o}" for o in range(len(store))],
                "store_ts": store}
        tbl = broker.read_range("t", 0, 0, len(store))
        assert {c: tbl.column(c).to_pylist() for c in want} == want
        lo = data.draw(st.integers(0, len(store)))
        tbl = broker.read_range("t", 0, lo, len(store))
        assert tbl.column("msg_id").to_pylist() == want["msg_id"][lo:]
        reader = RocketMQBatchReader({"path": root, "topic": "t"})
        rows = [b for p in reader.partitions() for b in reader.read(p)]
        read = {c: [v for b in rows for v in b.column(c).to_pylist()]
                for c in ("offset", "msg_id")}
        read["store_ts"] = [v for b in rows
                            for v in b.column("store_ts").cast(pa.int64()).to_pylist()]
        assert read == want


@settings(max_examples=200, deadline=None)
@given(
    sizes=st.lists(st.tuples(st.integers(0, 50), st.integers(0, 300)),
                   max_size=12),
    max_records=st.integers(1, 120),
    slots=st.integers(1, 8),
)
def test_pack_covers_every_offset_once_and_balances(sizes, max_records, slots):
    from rocketmq_flink_spark.sources.datasource import QueueRanges, _chunk, _pack

    chunks = [(q, lo, hi) for q, (start, n) in enumerate(sizes)
              for lo, hi in _chunk(start, start + n, max_records)]
    groups = _pack(chunks, max_records, slots)

    total = sum(n for _, n in sizes)
    want_k = min(len(chunks), max(slots, -(-total // max_records)))
    assert len(groups) == want_k
    covered = sorted((q, o) for g in groups for q, lo, hi in g
                     for o in range(lo, hi))
    assert covered == [(q, o) for q, (start, n) in enumerate(sizes)
                       for o in range(start, start + n)]
    if groups:
        loads = [sum(hi - lo for _, lo, hi in g) for g in groups]
        assert max(loads) - min(loads) <= max(hi - lo for _, lo, hi in chunks)
    for g in groups:
        assert g == sorted(g)
        part = QueueRanges("root", "t", g, None)
        assert part.queue_id == g[0][0] >= 0
        assert part.end - part.start == sum(hi - lo for _, lo, hi in g)


def _fill_queues(root, topic, counts):
    """counts[q] messages in queue q, one segment each."""
    for q, n in enumerate(counts):
        _write_segments(root, topic, q, [([0] * n, n, True, False)] if n else [])


def test_batch_read_packs_queues_into_task_slots(spark, tmp_path):
    """8 queues plan as one task wave, min(8, defaultParallelism)
    partitions, and each row keeps the queue id of the range it came
    from."""
    register(spark)
    root = str(tmp_path / "broker")
    counts = [30, 70, 5, 120, 64, 1, 90, 33]
    _fill_queues(root, "t_pack", counts)

    df = spark.read.format("rocketmq").options(path=root, topic="t_pack").load()
    assert df.rdd.getNumPartitions() == min(8, spark.sparkContext.defaultParallelism)
    rows = df.select("queue_id", "offset", "msg_id").collect()
    assert sorted((r.queue_id, r.offset) for r in rows) == [
        (q, o) for q, n in enumerate(counts) for o in range(n)
    ]
    assert all(r.msg_id == f"t_pack-{r.queue_id}-{r.offset}" for r in rows)


def test_stream_rate_limit_packed_exactly_once(spark, tmp_path):
    """A capped stream over 8 uneven queues delivers every (queue,
    offset) exactly once, each micro-batch in one task wave."""
    register(spark)
    root = str(tmp_path / "broker")
    counts = [300, 10, 250, 0, 75, 410, 5, 150]
    _fill_queues(root, "t_rate", counts)

    seen, parts = [], []

    def collect(batch, _):
        parts.append(batch.rdd.getNumPartitions())
        seen.extend((r.queue_id, r.offset)
                    for r in batch.select("queue_id", "offset").collect())

    q = (
        spark.readStream.format("rocketmq")
        .options(path=root, topic="t_rate", maxOffsetsPerTrigger=400)
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(seen) == [(qid, o) for qid, n in enumerate(counts)
                            for o in range(n)]
    assert len(parts) >= -(-sum(counts) // 400)
    assert max(parts) <= min(8, spark.sparkContext.defaultParallelism)


def test_stream_rate_limit_splits_budget_by_backlog(spark, tmp_path):
    """maxOffsetsPerTrigger is shared by backlog across 12 equal queues
    (queue ids past 9 included): the first batch takes 10 from each, no
    batch exceeds the cap, and every (queue, offset) arrives once."""
    register(spark)
    root = str(tmp_path / "broker")
    counts = [100] * 12
    _fill_queues(root, "t_share", counts)

    batches = []

    def collect(batch, _):
        rows = batch.select("queue_id", "offset").collect()
        if rows:
            batches.append([(r.queue_id, r.offset) for r in rows])

    q = (
        spark.readStream.format("rocketmq")
        .options(path=root, topic="t_share", maxOffsetsPerTrigger=120)
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert max(len(b) for b in batches) <= 120
    first = {}
    for qid, _ in batches[0]:
        first[qid] = first.get(qid, 0) + 1
    assert first == {qid: 10 for qid in range(12)}
    assert sorted(p for b in batches for p in b) == [
        (qid, o) for qid, n in enumerate(counts) for o in range(n)]


@settings(max_examples=300, deadline=None)
@given(
    backlog=st.lists(st.integers(0, 500), min_size=1, max_size=14),
    behind=st.data(),
    budget=st.integers(1, 2000),
)
def test_rate_limit_shares_budget_by_backlog(backlog, behind, budget):
    """The capped batch holds min(budget, backlog) messages, never more
    than a queue's backlog, and each queue's take is within one message
    of its exact proportional share."""
    cursor = {str(q): behind.draw(st.integers(0, 50)) for q in range(len(backlog))}
    latest = {q: cur + n for (q, cur), n in zip(cursor.items(), backlog)}
    end = _rate_limit(cursor, latest, budget)
    take = {q: end[q] - cursor[q] for q in latest}
    total = sum(backlog)
    assert sum(take.values()) == min(budget, total)
    for q, n in zip(latest, backlog):
        assert 0 <= take[q] <= n
        if total > budget:
            assert abs(take[q] - budget * n / total) < 1


# -- commit: exactly-once under failure, replay and concurrency ------------


def _stage(writer, bodies_by_queue):
    """One writer task's staged batch: the given bodies per queue."""
    rows = [(q, b) for q, bodies in bodies_by_queue.items() for b in bodies]
    batch = pa.RecordBatch.from_pydict({
        "keys": [None] * len(rows),
        "value": [b for _, b in rows],
        "queue_id": [q for q, _ in rows],
    })
    return writer.write(iter([batch]))


def _bodies(root, topic):
    broker = Broker(root)
    return sorted(b for q in broker.queues(topic)
                  for b in broker.read_range(topic, q, 0, broker.latest_offset(topic, q))
                  .column("body").to_pylist())


def test_commit_retry_then_replay_publishes_once(tmp_path, monkeypatch):
    """A transient OSError on the second queue's publish: the retries
    finish the commit, and a replay of the epoch (as Spark runs it after
    a failed commit: abort, stage again, commit the same batch id)
    publishes nothing more. Each message is in the topic once."""
    from rocketmq_flink_spark.sources.datasource import RocketMQStreamWriter

    root = str(tmp_path / "broker")
    writer = RocketMQStreamWriter({
        "path": root, "topic": "t", "numQueues": "2", "retryTimes": "3",
        "sleepTimeMs": "1", "checkpointLocation": str(tmp_path / "ckpt"),
    })
    bodies = {0: [b"a0", b"a1", b"a2"], 1: [b"b0", b"b1", b"b2"]}
    failed = []

    def once_on_queue_1(publish):
        def flaky(src, dst, *args, **kwargs):
            if (not failed and f"{os.sep}queue-1{os.sep}" in str(dst)
                    and str(dst).endswith(".parquet")):
                failed.append(dst)
                raise OSError("injected transient failure")
            return publish(src, dst, *args, **kwargs)
        return flaky

    monkeypatch.setattr(os, "link", once_on_queue_1(os.link))
    monkeypatch.setattr(os, "rename", once_on_queue_1(os.rename))
    msg = _stage(writer, bodies)
    try:
        writer.commit([msg], 0)
    except OSError:
        writer.abort([msg], 0)
    assert failed
    writer.commit([_stage(writer, bodies)], 0)  # the replayed epoch

    broker = Broker(root)
    assert [broker.latest_offset("t", q) for q in (0, 1)] == [3, 3]
    assert _bodies(root, "t") == sorted(bodies[0] + bodies[1])
    assert not [f for f in os.listdir(os.path.join(root, "t"))
                if f.startswith((".tmp-", ".intent-"))]


def _segment_table(bodies):
    """Messages with these bodies, offset, store_ts and msg_id left as
    placeholders for the commit."""
    return pa.Table.from_pylist(
        [{"offset": 0, "born_ts": 0, "store_ts": 0, "msg_id": "", "keys": None,
          "tags": None, "props": [], "body": b} for b in bodies],
        schema=SEGMENT_SCHEMA)


def test_abort_keeps_files_an_intent_names(tmp_path, monkeypatch):
    """A commit that fails after writing its intent is carried out by
    the topic's next commit, even after abort; abort drops only the
    staged files no intent names, and the epoch then counts as done."""
    root = str(tmp_path)
    broker = Broker(root)
    staged = [(q, broker.write_tmp("t", _segment_table([f"m{q}".encode()])))
              for q in (0, 1)]

    def fail(src, dst):
        raise OSError("injected")

    with monkeypatch.context() as m:
        m.setattr(os, "link", fail)
        with pytest.raises(OSError):
            broker.commit_tmp("t", staged, store_ts_us=1, epoch_id="e")
    loose = broker.write_tmp("t", _segment_table([b"loose"]))
    broker.abort_tmp(staged + [(0, loose)])
    assert all(os.path.exists(p) for _, p in staged)
    assert not os.path.exists(loose)

    later = [(0, broker.write_tmp("t", _segment_table([b"later"])))]
    assert broker.commit_tmp("t", later, store_ts_us=2) == {0: (1, 2)}
    assert _bodies(root, "t") == [b"later", b"m0", b"m1"]
    replay = [(0, broker.write_tmp("t", _segment_table([b"m0"])))]
    assert broker.commit_tmp("t", replay, store_ts_us=3, epoch_id="e") == {}
    assert _bodies(root, "t") == [b"later", b"m0", b"m1"]


_COMMIT_LOOP = r"""
import os, sys, time
import pyarrow as pa
from rocketmq_flink_spark.sources.broker import SEGMENT_SCHEMA, Broker

root, who, go = sys.argv[1:4]
broker = Broker(root)
open(go + "." + who, "w").close()  # ready
while not os.path.exists(go):
    time.sleep(0.001)
for r in range(40):
    staged = []
    for q in (0, 1):
        rows = [{"offset": 0, "born_ts": 0, "store_ts": 0, "msg_id": "",
                 "keys": None, "tags": None, "props": [],
                 "body": f"{who}-{r}-{q}-{i}".encode()} for i in range(3)]
        tbl = pa.Table.from_pylist(rows, schema=SEGMENT_SCHEMA)
        staged.append((q, broker.write_tmp("t", tbl)))
    broker.commit_tmp("t", staged, store_ts_us=r + 1)
"""


def test_concurrent_commits_never_share_offsets(tmp_path):
    """Two processes commit to one topic at once: every queue's
    segments stay contiguous, no two ranges overlap, and no segment is
    overwritten (every message is read back exactly once)."""
    import subprocess
    import sys

    root = str(tmp_path / "broker")
    go = str(tmp_path / "go")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
         os.environ.get("PYTHONPATH", "")]))
    procs = [subprocess.Popen([sys.executable, "-c", _COMMIT_LOOP, root, who, go],
                              env=env, stderr=subprocess.PIPE, text=True)
             for who in ("A", "B")]
    deadline = time.time() + 60
    while not all(os.path.exists(f"{go}.{who}") for who in "AB"):
        assert time.time() < deadline and all(p.poll() is None for p in procs)
        time.sleep(0.01)
    open(go, "w").close()
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err

    broker = Broker(root)
    for q in (0, 1):
        segs = broker.segments("t", q)
        assert [s for s, _, _ in segs] == [sum(c for _, c, _ in segs[:i])
                                           for i in range(len(segs))]
        assert sum(c for _, c, _ in segs) == 2 * 40 * 3
    assert _bodies(root, "t") == sorted(
        f"{who}-{r}-{q}-{i}".encode()
        for who in "AB" for r in range(40) for q in (0, 1) for i in range(3))


def test_published_segment_mtime_is_publish_moment(tmp_path):
    """A segment becomes visible when it is published, not when it was
    staged: its mtime is at or after the commit started, on the
    filesystem's own clock."""
    broker = Broker(str(tmp_path))
    staged = [(0, broker.write_tmp("t", _segment_table([b"x"])))]
    time.sleep(0.05)
    clock = tmp_path / "clock"
    clock.write_text("")
    before = os.stat(clock).st_mtime_ns
    broker.commit_tmp("t", staged, store_ts_us=1)
    (_, _, path), = broker.segments("t", 0)
    assert os.stat(path).st_mtime_ns >= before


def test_two_stream_queries_to_one_topic_keep_every_batch(spark, tmp_path):
    """Two streaming queries with their own checkpoints write one topic,
    through format("rocketmq") and through the foreachBatch sink; the
    second's batch 0 is not taken for the first's."""
    from rocketmq_flink_spark.streaming import write_stream_foreach_batch

    register(spark)
    root = str(tmp_path / "broker")
    src = str(tmp_path / "src")
    spark.range(10).selectExpr(
        "cast(id AS string) AS keys", "encode(cast(id AS string), 'UTF-8') AS value"
    ).write.parquet(src)

    def rocketmq_sink(stream, topic, ckpt):
        return (
            stream.writeStream.format("rocketmq")
            .option("path", root).option("topic", topic)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )

    def foreach_batch_sink(stream, topic, ckpt):
        return write_stream_foreach_batch(
            stream.select("keys"),
            {"path": root, "topic": topic, "keyColumns": "keys",
             "writeKeysToBody": "true"},
            checkpoint_location=ckpt,
            trigger={"availableNow": True},
        )

    for topic, start in (("t", rocketmq_sink), ("t_fb", foreach_batch_sink)):
        for i in (1, 2):
            stream = spark.readStream.schema("keys string, value binary").parquet(src)
            start(stream, topic, str(tmp_path / f"{topic}_ckpt{i}")).awaitTermination(120)
        got = spark.read.format("rocketmq").option("path", root).option("topic", topic).load()
        assert got.count() == 20, topic


def test_stream_leaves_one_epoch_marker(spark, tmp_path):
    """A rate-capped stream of several batches leaves one epoch marker
    in the topic dir, its last batch's: each batch's commit removes the
    marker of the batch before."""
    from rocketmq_flink_spark.sources.datasource import _epoch_key

    register(spark)
    root = str(tmp_path / "broker")
    _fill_queues(root, "t_src", [12, 12])
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("rocketmq")
        .options(path=root, topic="t_src", maxOffsetsPerTrigger=8).load()
        .select("keys", "value")
        .writeStream.format("rocketmq")
        .option("path", root).option("topic", "t_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    last = q.lastProgress["batchId"]
    assert last >= 2
    markers = [f for f in os.listdir(os.path.join(root, "t_out"))
               if f.startswith(".epoch-")]
    assert markers == [f".epoch-{_epoch_key({'checkpointLocation': ckpt}, last)}.done"]
    assert spark.read.format("rocketmq").options(path=root, topic="t_out").load().count() == 24
