"""Per-layer probes for the traced run.

After the timed phase, the traced run calls each layer's public entry
points directly from here, on the workload's own topic, inside spans
named "<layer>.<call>". Every workload measures the layers listed in
COMMON; the layers only one workload exercises (the streaming query of
live_tail, the operators of curate) are measured on that workload and
reported separately, because the result line of every traced run must
carry the same metric names.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa

import gen

# name -> unit; printed by the traced run of every workload
COMMON = {
    "session.start_s": "s",
    "session.first_job_s": "s",
    "broker.segments": "count",
    "broker.list_s": "s",
    "broker.read_range_s": "s",
    "broker.offset_for_timestamp_s": "s",
    "broker.commit_s": "s",
    "broker.write_amplification": "ratio",
    "datasource.plan_s": "s",
    "datasource.partitions": "count",
    "datasource.read_s": "s",
    "datasource.keep_ratio": "ratio",
    "datasource.write_s": "s",
    "datasource.queue_skew": "ratio",
    "sql92.mask_s": "s",
    "codec.decode_s": "s",
    "codec.dirty_ratio": "ratio",
    "codec.encode_s": "s",
}

# name -> unit; printed by the traced run of the one workload that has them
SPECIFIC = {
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.addBatch_ms_p50": "ms",
    "stream.latestOffset_ms_p50": "ms",
    "stream.queryPlanning_ms_p50": "ms",
    "stream.walCommit_ms_p50": "ms",
    "stream.commitOffsets_ms_p50": "ms",
    "stream.state_rows_max": "count",
    "stream.state_bytes_max": "bytes",
    "gen.late_s_max": "s",
    "operators.quality_s": "s",
    "operators.minhash_s": "s",
    "operators.candidate_pairs": "count",
    "operators.pair_precision": "ratio",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(run, name: str, fn):
    with run.tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        run.layer[name + "_s"] = time.perf_counter() - t0
    return out


def broker_layer(run, root: str, topic: str, ts_us: int) -> list[pa.Table]:
    """Segment listing, range reads and timestamp lookup over every
    queue; returns the per-queue tables read."""
    from rocketmq_flink_spark.sources import Broker

    broker = Broker(root)
    queues = broker.queues(topic)
    sweeps = []
    for _ in range(5):
        with run.tracer.span("broker.list"):
            t0 = time.perf_counter()
            segs = [broker.segments(topic, q) for q in queues]
            sweeps.append(time.perf_counter() - t0)
    run.layer["broker.list_s"] = statistics.median(sweeps)
    run.layer["broker.segments"] = sum(len(s) for s in segs)
    tables = _timed(run, "broker.read_range", lambda: [
        broker.read_range(topic, q, broker.earliest_offset(topic, q),
                          broker.latest_offset(topic, q))
        for q in queues
    ])
    _timed(run, "broker.offset_for_timestamp", lambda: [
        broker.offset_for_timestamp(topic, q, ts_us) for q in queues
    ])
    return tables


def datasource_layer(run, options: dict, tables: list[pa.Table], sql: str) -> None:
    """Batch reader planning and scan, SQL92 mask, batch writer write and
    commit (with its write amplification) on a copy of the topic."""
    from rocketmq_flink_spark.functions.sql92 import compile_sql92_arrow
    from rocketmq_flink_spark.sources import Broker
    from rocketmq_flink_spark.sources.datasource import (
        RocketMQBatchReader,
        RocketMQBatchWriter,
    )

    reader = RocketMQBatchReader(options)
    parts = _timed(run, "datasource.plan", reader.partitions)
    run.layer["datasource.partitions"] = len(parts)

    def drain():
        return sum(b.num_rows for p in parts for b in reader.read(p))

    kept = _timed(run, "datasource.read", drain)
    in_range = sum(max(p.end - p.start, 0) for p in parts if p.queue_id >= 0)
    run.layer["datasource.keep_ratio"] = kept / max(in_range, 1)

    props = pa.chunked_array([t.column("props") for t in tables])
    _timed(run, "sql92.mask", lambda: compile_sql92_arrow(sql).mask(props))

    root = os.path.join(os.path.dirname(options["path"]), "probe-broker")
    writer = RocketMQBatchWriter({"path": root, "topic": "copy", "numQueues": "8"})
    batches = [
        pa.RecordBatch.from_arrays(
            [b.column("keys"), b.column("tags"), b.column("props"),
             b.column("body"), b.column("born_ts").cast(pa.timestamp("us"))],
            names=["keys", "tags", "props", "value", "born_ts"],
        )
        for t in tables for b in t.to_batches()
    ]
    staged = _timed(run, "datasource.write", lambda: writer.write(iter(batches)))
    staged_bytes = sum(os.path.getsize(p) for _, _, p in staged.staged)
    _timed(run, "broker.commit", lambda: writer.commit([staged]))
    broker = Broker(root)
    final = [s for q in broker.queues("copy") for s in broker.segments("copy", q)]
    final_bytes = sum(os.path.getsize(p) for _, _, p in final)
    run.layer["broker.write_amplification"] = (staged_bytes + final_bytes) / final_bytes
    counts = [broker.latest_offset("copy", q) for q in broker.queues("copy")]
    run.layer["datasource.queue_skew"] = max(counts) / (sum(counts) / len(counts))


def codec_layer(run, root: str, topic: str, schema: str, decode_opts: dict,
                encode_opts: dict, text_cast: str | None = None):
    """Decode and encode, each a Spark job over a cached input into the
    noop sink. Returns the cached decoded rows (caller unpersists)."""
    from pyspark.sql import functions as F

    from rocketmq_flink_spark.functions.codec import decode_envelope, encode_rows

    env = (run.spark.read.format("rocketmq").option("path", root)
           .option("topic", topic).load().cache())
    n_msgs = env.count()
    rows = decode_envelope(env, schema, decode_opts)
    _timed(run, "codec.decode", lambda: _noop(rows))
    if text_cast:
        rows = rows.withColumn(text_cast, F.col(text_cast).cast("string"))
    rows = rows.cache()
    n_rows = rows.count()
    env.unpersist()
    run.layer["codec.dirty_ratio"] = 1.0 - n_rows / max(n_msgs, 1)
    _timed(run, "codec.encode", lambda: _noop(encode_rows(rows, encode_opts)))
    return rows


def replay(run, root: str, inp) -> None:
    tables = broker_layer(run, root, "events", gen.BASE_TS_US + 1_000_000)
    options = {"path": root, "topic": "events", "startTimeMs": str(inp.start_ms),
               "tag": gen.REPLAY_TAG_FILTER, "sql": gen.REPLAY_SQL}
    datasource_layer(run, options, tables, gen.REPLAY_SQL)
    rows = codec_layer(run, root, "events", gen.REPLAY_SCHEMA,
                       {"fieldDelimiter": "|", "lengthCheck": "SKIP"},
                       {"keyColumns": "id", "fieldDelimiter": "|"})
    rows.unpersist()


def produce(run, root: str, df, inp) -> None:
    from rocketmq_flink_spark.functions.codec import encode_rows

    topic = "probe"
    encode_rows(df, gen.PRODUCE_OPTIONS).write.format("rocketmq").option(
        "path", root).option("topic", topic).mode("append").save()
    tables = broker_layer(run, root, topic, int(time.time() * 1e6))
    datasource_layer(run, {"path": root, "topic": topic}, tables, "region = 'eu'")
    schema = "id bigint, amount int, note string, region string"
    rows = codec_layer(run, root, topic, schema,
                       {"fieldDelimiter": "|", "headerFields": "region"},
                       gen.PRODUCE_OPTIONS | {"keyColumns": "id",
                                              "isDynamicTag": "false"})
    rows.unpersist()


def live_tail(run, root: str, progress: list[dict]) -> None:
    mid_ts = int(time.time() * 1e6) - 5_000_000
    tables = broker_layer(run, root, "tail_in", mid_ts)
    datasource_layer(run, {"path": root, "topic": "tail_in"}, tables, "src = 'web'")
    rows = codec_layer(run, root, "tail_in", gen.TAIL_SCHEMA, {"fieldDelimiter": "|"},
                       {"keyColumns": "key", "writeKeysToBody": "true",
                        "fieldDelimiter": "|"})
    rows.unpersist()
    batches = [p for p in progress if p["numInputRows"] > 0]
    run.layer["stream.batches"] = len(batches)
    run.layer["stream.rows_per_batch_p50"] = float(
        np.median([p["numInputRows"] for p in batches]))
    for key in ("triggerExecution", "addBatch", "latestOffset", "queryPlanning",
                "walCommit", "commitOffsets"):
        name = "trigger" if key == "triggerExecution" else key
        run.layer[f"stream.{name}_ms_p50"] = float(
            np.median([p["durationMs"].get(key, 0) for p in batches]))
    states = [s for p in progress for s in p.get("stateOperators", [])]
    run.layer["stream.state_rows_max"] = max((s["numRowsTotal"] for s in states), default=0)
    run.layer["stream.state_bytes_max"] = max((s["memoryUsedBytes"] for s in states),
                                              default=0)


def curate(run, root: str, inp) -> None:
    from pyspark.sql import functions as F

    from rocketmq_flink_spark.operators.dedup import (
        minhash_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from rocketmq_flink_spark.operators.text import quality_filter_flags

    tables = broker_layer(run, root, "docs", gen.BASE_TS_US)
    datasource_layer(run, {"path": root, "topic": "docs"}, tables, "src IN ('web', 'books')")
    docs = codec_layer(run, root, "docs", gen.CURATE_SCHEMA,
                       {"headerFields": gen.CURATE_HEADERS},
                       {"keyColumns": "doc_id", "isDynamicProperty": "true",
                        "dynamicPropertyColumns": "src"}, text_cast="text")
    flags = quality_filter_flags(docs, "doc_id", "text")
    _timed(run, "operators.quality", lambda: _noop(flags))
    good = docs.join(flags.where(F.col("kept")).select("doc_id"), "doc_id").cache()
    good.count()

    def dedup():
        groups = minhash_dedup(good, "doc_id", "text")
        return groups.where(~F.col("is_dup")).count()

    _timed(run, "operators.minhash", dedup)
    sigs = minhash_signatures(good, "doc_id", "text")
    n_pairs = minhash_lsh_pairs(sigs, "doc_id", cache_level=None).count()
    run.layer["operators.candidate_pairs"] = n_pairs
    run.layer["operators.pair_precision"] = inp.dup_pairs / max(n_pairs, 1)
    good.unpersist()
    docs.unpersist()


def per_layer_metrics(run) -> dict:
    """The result-line metrics of a traced run: every COMMON metric."""
    return {name: {"value": float(run.layer[name]), "unit": unit}
            for name, unit in COMMON.items()}


def specific_metrics(run) -> dict:
    return {name: {"value": float(run.layer[name]), "unit": unit}
            for name, unit in SPECIFIC.items() if name in run.layer}
