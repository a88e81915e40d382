"""PySpark Python DataSource for the message log ("rocketmq" format).

Maps the reference's three integration levels onto Spark's unified one:
- FLIP-27 Source (RocketMQSource.java:52-181)          -> DataSourceStreamReader
- bounded table scan (RocketMQScanTableSource)          -> DataSourceReader
- SinkFunction / DynamicTableSink (RocketMQSink.java)   -> (Stream)Writer

Split model: a queue's offset range is cut into chunks of at most
maxRecordsPerPartition offsets (the analog of RocketMQPartitionSplit),
and the chunks are packed into one wave of tasks — min(#chunks,
max(task slots, ceil(total / maxRecordsPerPartition))) input partitions,
largest chunk first into the least-loaded one — so one task reads
several queues, as one reference reader pulls the splits getSplitOwner
hands it. Partition discovery re-lists queue dirs every batch (the
enumerator's periodic discovery, RocketMQSourceEnumerator.java:148-160,
with interval 0).

Offset surface (reference: RocketMQOptions + RocketMQSourceFunction
initOffset, legacy/RocketMQSourceFunction.java:330-365):
  startingOffsets = earliest | latest | timestamp:<ms> | {"<queue>": off}
  endingOffsets   = latest | {"<queue>": off}  (batch replay bound, W7)
  endingTimestamp = <epoch ms>   (bounded read / stopInMs, W6)
  tag             = broker-side tag filter (P1) applied in read()
  maxOffsetsPerTrigger = per-microbatch rate cap, shared across queues
                         in proportion to their backlog
  maxRecordsPerPartition = most offsets one chunk (and one Arrow batch)
                           holds; a backlogged queue fans out across
                           tasks in chunks of this size

Scale notes: read() yields one Arrow RecordBatch per chunk (vectorized
into Spark, no per-row Python), so memory per batch stays bounded by
maxRecordsPerPartition however many chunks a task packs.
"""

from __future__ import annotations

import hashlib
import heapq
import json
import os
import time
import zlib

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from rocketmq_flink_spark.config import (
    normalize_options,
    parse_datetime_ms,
    require,
)
from rocketmq_flink_spark.sources.broker import (
    STORED_SCHEMA,
    Broker,
    check_acl,
    with_msg_ids,
)
from rocketmq_flink_spark.sources.retry import call_with_retry, retry_params

ENVELOPE_DDL = (
    "topic string, queue_id int, offset bigint, msg_id string, keys string, "
    "tags string, born_ts timestamp, store_ts timestamp, "
    "props map<string,string>, value binary"
)

# environment variable carrying sc.defaultParallelism to the Python workers
TASK_SLOTS_ENV = "ROCKETMQ_TASK_SLOTS"

ARROW_ENVELOPE = pa.schema(
    [
        ("topic", pa.string()),
        ("queue_id", pa.int32()),
        ("offset", pa.int64()),
        ("msg_id", pa.string()),
        ("keys", pa.string()),
        ("tags", pa.string()),
        ("born_ts", pa.timestamp("us")),
        ("store_ts", pa.timestamp("us")),
        ("props", pa.map_(pa.string(), pa.string())),
        ("value", pa.binary()),
    ]
)

class QueueRanges(InputPartition):
    """One task's share of a scan: offset ranges [(queue_id, start, end)]
    of one topic, sorted by (queue, start).

    queue_id, start and end summarise the partition: the first range's
    queue and start offset, with end - start the number of offsets it
    covers. The empty placeholder has no ranges and queue_id -1."""

    def __init__(self, root: str, topic: str, ranges: list[tuple[int, int, int]],
                 tag: str | None, sql: str | None = None):
        self.root = root
        self.topic = topic
        self.ranges = ranges
        self.tag = tag
        self.sql = sql
        self.queue_id, self.start = ranges[0][:2] if ranges else (-1, 0)
        self.end = self.start + sum(hi - lo for _, lo, hi in ranges)


def _read_partition(part: QueueRanges):
    """Executor-side scan of one task's queue ranges -> one Arrow batch
    per range, stamped with that range's queue id. msg_id is derived
    only for the rows the filters keep."""
    import pyarrow.compute as pc

    broker = Broker(part.root)
    # Broker-side tag filter analog (consumer.pull(mq, tag, ...),
    # RocketMQPartitionSplitReader.java:161-163). Tag option supports
    # the 'a || b' subscription syntax.
    tags = None
    if part.tag and part.tag != "*":
        tags = pa.array([t.strip() for t in part.tag.split("||")])
    # SQL92 property filter (P2): the reference broker evaluates the
    # predicate per message when enablePropertyFilter=true; this reader
    # IS the broker side of the local simulation, so the filter runs
    # here, below the DataFrame layer. Compiled once per partition;
    # evaluated VECTORIZED (map_lookup per referenced property + numpy
    # column program — functions/sql92.py arrow backend); an evaluation
    # error fails the task.
    sql_filter = None
    if part.sql:
        from rocketmq_flink_spark.functions.sql92 import compile_sql92_arrow

        sql_filter = compile_sql92_arrow(part.sql)
    for queue_id, start, end in part.ranges:
        tbl = call_with_retry(
            lambda q=queue_id, lo=start, hi=end: broker.read_stored(
                part.topic, q, lo, hi)
        )
        if tags is not None and tbl.num_rows:
            tbl = tbl.filter(pc.is_in(tbl.column("tags"), value_set=tags))
        if sql_filter is not None and tbl.num_rows:
            tbl = tbl.filter(sql_filter.mask(tbl.column("props")))
        n = tbl.num_rows
        if n == 0:
            continue
        tbl = with_msg_ids(tbl, part.topic, queue_id)
        arrays = [
            pa.repeat(pa.scalar(part.topic, pa.string()), n),
            pa.repeat(pa.scalar(queue_id, pa.int32()), n),
            tbl.column("offset").combine_chunks(),
            tbl.column("msg_id").combine_chunks(),
            tbl.column("keys").combine_chunks(),
            tbl.column("tags").combine_chunks(),
            tbl.column("born_ts").combine_chunks().cast(pa.timestamp("us")),
            tbl.column("store_ts").combine_chunks().cast(pa.timestamp("us")),
            tbl.column("props").combine_chunks(),
            tbl.column("body").combine_chunks(),
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=ARROW_ENVELOPE)


def _validated_sql(opts: dict) -> str | None:
    """Compile-check the SQL92 `sql` option at plan time (factory
    validation analog) and return it for executor-side evaluation."""
    sql = opts.get("sql")
    if not sql:
        return None
    from rocketmq_flink_spark.functions.sql92 import compile_sql92

    compile_sql92(sql)  # raises Sql92Error on malformed input
    return sql


def _starting_offsets_spec(opts: dict) -> str:
    """Resolve the starting-position option precedence (reference:
    RocketMQDynamicTableSourceFactory.java:114-148 + legacy initOffset,
    RocketMQSourceFunction.java:330-365): an explicit startingOffsets
    wins, then startMessageOffset, then startTimeMs, then startTime
    ('yyyy-MM-dd HH:mm:ss' in timeZone)."""
    spec = opts.get("startingOffsets")
    if spec and spec != "earliest":
        return spec
    if opts.get("startMessageOffset"):
        return '{"*": %d}' % int(opts["startMessageOffset"])
    if opts.get("startTimeMs"):
        return f"timestamp:{int(opts['startTimeMs'])}"
    if opts.get("startTime"):
        ms = parse_datetime_ms(opts["startTime"], opts.get("timeZone"))
        return f"timestamp:{ms}"
    return spec or "earliest"


def _ending_ts_ms(opts: dict) -> int | None:
    """endingTimestamp (epoch ms) or endTime datetime -> stopInMs (W6)."""
    if opts.get("endingTimestamp"):
        return int(opts["endingTimestamp"])
    if opts.get("endTime"):
        return parse_datetime_ms(opts["endTime"], opts.get("timeZone"))
    return None


def _resolve_start(broker: Broker, topic: str, queue_id: int, spec: str) -> int:
    spec = (spec or "earliest").strip()
    if spec == "earliest":
        return broker.earliest_offset(topic, queue_id)
    if spec == "latest":
        return broker.latest_offset(topic, queue_id)
    if spec.startswith("timestamp:"):
        ts_ms = int(spec.split(":", 1)[1])
        return broker.offset_for_timestamp(topic, queue_id, ts_ms * 1000)
    if spec.startswith("{"):
        explicit = json.loads(spec)
        return int(explicit.get(str(queue_id), explicit.get("*", 0)))
    raise ValueError(f"invalid startingOffsets: {spec!r}")


def _resolve_end(broker: Broker, topic: str, queue_id: int, spec: str) -> int:
    """endingOffsets bound. Unlike a missing START key (0 = read from
    the beginning, lossless), a missing END key must default to LATEST
    — defaulting to 0 would silently drop the queue's entire range."""
    spec = (spec or "latest").strip()
    if spec == "latest":
        return broker.latest_offset(topic, queue_id)
    if spec.startswith("{"):
        explicit = json.loads(spec)
        v = explicit.get(str(queue_id), explicit.get("*"))
        if v is None:
            return broker.latest_offset(topic, queue_id)
        return int(v)
    raise ValueError(f"invalid endingOffsets: {spec!r}")


def _end_offset(broker: Broker, topic: str, queue_id: int, opts: dict) -> int:
    """A queue's read bound: endingOffsets (the explicit batch-replay
    bound between two W7 offset-log snapshots), else the first offset
    stored after endingTimestamp/endTime (W6), else latest."""
    if opts.get("endingOffsets"):
        return _resolve_end(broker, topic, queue_id, opts["endingOffsets"])
    ending_ts = _ending_ts_ms(opts)
    if ending_ts is not None:
        return broker.offset_for_timestamp(topic, queue_id, (ending_ts + 1) * 1000)
    return broker.latest_offset(topic, queue_id)


def _chunk(start: int, end: int, max_records: int):
    lo = start
    while lo < end:
        hi = min(lo + max_records, end)
        yield lo, hi
        lo = hi


def _task_slots() -> int:
    """Task slots to plan for: the defaultParallelism that register()
    put into the Python workers' environment, else this host's cores."""
    return int(os.environ.get(TASK_SLOTS_ENV) or os.cpu_count() or 1)


def _pack(chunks: list[tuple[int, int, int]], max_records: int,
          slots: int) -> list[list[tuple[int, int, int]]]:
    """Pack (queue_id, start, end) chunks into
    k = min(#chunks, max(slots, ceil(total / max_records))) groups, the
    rule Spark's file source uses to size its scan: the largest chunk
    first, always into the least-loaded group. Returns the groups, each
    sorted by (queue, start)."""
    if not chunks:
        return []
    total = sum(hi - lo for _, lo, hi in chunks)
    k = min(len(chunks), max(slots, -(-total // max_records)))
    loads = [(0, i) for i in range(k)]  # a heap of (messages, group)
    groups: list[list[tuple[int, int, int]]] = [[] for _ in range(k)]
    for q, lo, hi in sorted(chunks, key=lambda c: (c[1] - c[2], c[0], c[1])):
        load, i = heapq.heappop(loads)
        groups[i].append((q, lo, hi))
        heapq.heappush(loads, (load + hi - lo, i))
    return [sorted(g) for g in groups]


def _rate_limit(cursor: dict, latest: dict, budget: int) -> dict:
    """End offsets that take at most `budget` messages past `cursor`,
    split across queues in proportion to their backlog (as Spark's Kafka
    source does): floor shares, then one more to each of the largest
    fractional shares, ties to the lower queue id. So the batch holds
    min(budget, backlog) messages and no backlogged queue starves."""
    cur = {q: int(cursor.get(q, 0)) for q in latest}
    backlog = {q: max(int(latest[q]) - cur[q], 0) for q in latest}
    total = sum(backlog.values())
    if total <= budget:
        return {q: cur[q] + backlog[q] for q in latest}
    take = {q: budget * n // total for q, n in backlog.items()}
    left = budget - sum(take.values())
    by_remainder = sorted(latest,
                          key=lambda q: (-(budget * backlog[q] % total), int(q)))
    for q in by_remainder[:left]:
        take[q] += 1
    return {q: cur[q] + take[q] for q in latest}


def _plan(root: str, topic: str, bounds, max_records: int, tag: str | None,
          sql: str | None) -> list[QueueRanges]:
    """Input partitions for (queue_id, start, end) bounds: each range cut
    into chunks of at most max_records offsets, the chunks packed into
    one wave of tasks (_pack)."""
    chunks = [(q, lo, hi) for q, start, end in bounds
              for lo, hi in _chunk(start, end, max_records)]
    groups = _pack(chunks, max_records, _task_slots())
    return [QueueRanges(root, topic, g, tag, sql) for g in groups] or [
        QueueRanges(root, topic, [], tag, sql)
    ]


class RocketMQBatchReader(DataSourceReader):
    """Bounded scan (reference boundedness: stopInMs / endTime, S14/W6)."""

    def __init__(self, options: dict):
        self.opts = normalize_options(dict(options))
        require(self.opts, "path", "topic")
        self.root = self.opts["path"]
        self.topic = self.opts["topic"]
        self.tag = self.opts.get("tag", "*")
        self.sql = _validated_sql(self.opts)
        self.max_records = int(self.opts.get("maxRecordsPerPartition", "500000"))

    def partitions(self):
        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))
        broker = Broker(self.root)
        start_spec = _starting_offsets_spec(self.opts)
        bounds = [
            (q, _resolve_start(broker, self.topic, q, start_spec),
             _end_offset(broker, self.topic, q, self.opts))
            for q in broker.queues(self.topic)
        ]
        return _plan(self.root, self.topic, bounds, self.max_records, self.tag,
                     self.sql)

    def read(self, partition: QueueRanges):
        return _read_partition(partition)


class RocketMQStreamReader(DataSourceStreamReader):
    """Microbatch streaming source; offsets are {queue_id: next_offset}
    JSON dicts checkpointed by Structured Streaming (the analog of the
    reference's union-state offset snapshot, W7)."""

    def __init__(self, options: dict):
        self.opts = normalize_options(dict(options))
        require(self.opts, "path", "topic")
        self.root = self.opts["path"]
        self.topic = self.opts["topic"]
        self.tag = self.opts.get("tag", "*")
        self.sql = _validated_sql(self.opts)
        if self.opts.get("endingOffsets"):
            # batch-only bound; streaming past it would silently violate
            # the contract (Kafka's source rejects this the same way)
            raise ValueError(
                "endingOffsets is a batch read option; for a bounded "
                "stream use trigger(availableNow=True) or endingTimestamp"
            )
        self.max_records = int(self.opts.get("maxRecordsPerPartition", "500000"))
        self.max_per_trigger = self.opts.get("maxOffsetsPerTrigger")
        self._cursor: dict | None = None  # last end offsets handed to Spark

    def _start_offsets(self) -> dict:
        """{queue: offset} at the configured starting position."""
        broker = Broker(self.root)
        spec = _starting_offsets_spec(self.opts)
        return {
            str(q): _resolve_start(broker, self.topic, q, spec)
            for q in broker.queues(self.topic)
        }

    def initialOffset(self) -> dict:
        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))
        init = self._start_offsets()
        self._cursor = dict(init)
        return init

    def latestOffset(self) -> dict:
        """Next batch end offsets: every queue's read bound (latest, or
        the endingTimestamp/endTime bound), then the maxOffsetsPerTrigger
        cap. The cap MUST be applied here (not in partitions()): whatever
        this returns goes into the offset log as the batch's committed
        end, so capping any later would silently skip messages."""
        broker = Broker(self.root)
        latest = {
            str(q): _end_offset(broker, self.topic, q, self.opts)
            for q in broker.queues(self.topic)
        }
        if not self.max_per_trigger:
            self._cursor = dict(latest)
            return latest
        # Spark calls latestOffset() BEFORE initialOffset() on a fresh
        # query, so seed the cursor from the configured start. After a
        # checkpoint restart the true position may be further ahead;
        # partitions() resyncs the cursor to max(start, end), costing
        # at most one undersized batch.
        cursor = self._cursor if self._cursor is not None else self._start_offsets()
        capped = _rate_limit(cursor, latest, int(self.max_per_trigger))
        self._cursor = dict(capped)
        return capped

    def partitions(self, start: dict, end: dict):
        # resync the cap cursor (handles checkpoint restarts, where the
        # offset log's position is ahead of the configured start)
        self._cursor = {
            q: max(int(end.get(q, 0)), int(start.get(q, 0)))
            for q in set(start) | set(end)
        }
        bounds = [(int(q), int(start.get(q, 0)), int(end_off))
                  for q, end_off in end.items()]
        return _plan(self.root, self.topic, bounds, self.max_records, self.tag,
                     self.sql)

    def read(self, partition: QueueRanges):
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        # Offsets live in Spark's checkpoint (commit log); the reference's
        # broker-side commit (notifyCheckpointComplete) has no analog here.
        pass


class StagedBatch(WriterCommitMessage):
    def __init__(self, staged: list[tuple[str, int, str]]):
        self.staged = staged  # (topic, queue_id, tmp_path)


def _write_batches(root: str, topic: str, num_queues: int, batches):
    """Task-side write, Arrow-native: consume `pa.RecordBatch`es (the
    DataSourceArrowWriter contract), route rows to (topic, queue)
    buckets with COLUMNAR ops, stage one parquet per bucket.

    Input columns follow the encode_rows envelope (keys, tags, props,
    value, born_ts [, queue_id] [, topic]). A non-empty `topic` column
    overrides the option topic per row — the TopicSelector surface
    (R1-R3), Kafka-sink style. Queue routing: explicit queue_id column
    if present, else crc32(keys) % numQueues, else a per-task
    round-robin — mirroring the reference's MessageQueueSelector usage
    (RocketMQSink.java:110-116 buffers 32 messages per send; an Arrow
    record batch is the Spark-native batching unit, and rows never
    materialize as Python objects — the single remaining per-row op is
    the crc32 over the keys column, and only for rows without an
    explicit queue_id).
    """
    import numpy as np
    import pyarrow.compute as pc

    parts: dict[tuple[str, int], list[pa.Table]] = {}
    rr = 0
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        names = rb.schema.names

        def col(c, rb=rb, names=names):
            return rb.column(names.index(c)) if c in names else None

        # --- normalized segment columns (vectorized casts) ---
        born = col("born_ts")
        if born is not None:
            born_us = pc.fill_null(
                born.cast(pa.timestamp("us")).cast(pa.int64()), 0
            )
        else:
            born_us = pa.array([0] * n, pa.int64())
        keys_c = col("keys")
        keys_arr = (
            keys_c.cast(pa.string())
            if keys_c is not None
            else pa.array([None] * n, pa.string())
        )
        tags_c = col("tags")
        tags_arr = (
            tags_c.cast(pa.string())
            if tags_c is not None
            else pa.array([None] * n, pa.string())
        )
        props_c = col("props")
        if props_c is None:
            props_arr = pa.array([[]] * n, pa.map_(pa.string(), pa.string()))
        elif props_c.null_count:
            # nulls become EMPTY maps (historic row-writer behavior);
            # map arrays have no fill_null, so only this rare case
            # drops to pylist
            props_arr = pa.array(
                [m if m is not None else [] for m in props_c.to_pylist()],
                pa.map_(pa.string(), pa.string()),
            )
        else:
            props_arr = props_c.cast(pa.map_(pa.string(), pa.string()))
        body_c = col("value")
        if body_c is None:
            body_arr = pa.array([b""] * n, pa.binary())
        else:
            body_arr = pc.fill_null(body_c.cast(pa.binary()), b"")
        # stored layout: offset, store_ts and msg_id come from the commit
        norm = pa.Table.from_arrays(
            [
                pa.chunked_array([born_us]).combine_chunks(),
                keys_arr,
                tags_arr,
                props_arr,
                body_arr,
            ],
            schema=STORED_SCHEMA,
        )

        # --- per-row routing key (topic index * num_queues + qid) ---
        qcol = col("queue_id")
        if qcol is not None:
            qids = pc.fill_null(qcol.cast(pa.int64()), -1).to_numpy(
                zero_copy_only=False
            ).copy()
        else:
            qids = np.full(n, -1, dtype=np.int64)
        if (qids < 0).any():
            keys_l = keys_arr.to_pylist()
            for i in np.nonzero(qids < 0)[0]:
                k = keys_l[i]
                if k is not None:
                    # crc32: stable across processes (builtin hash is
                    # salted per run)
                    qids[i] = zlib.crc32(str(k).encode("utf-8")) % num_queues
                else:
                    qids[i] = rr % num_queues
                    rr += 1
        tcol = col("topic")
        if tcol is not None and tcol.null_count < n:
            t_l = tcol.to_pylist()
            topics = [t if t else topic for t in t_l]
            uniq_topics = sorted(set(topics))
            t_idx = {t: i for i, t in enumerate(uniq_topics)}
            codes = (
                np.fromiter(
                    (t_idx[t] for t in topics), np.int64, count=n
                )
                * num_queues
                + qids
            )
        else:
            uniq_topics = [topic]
            codes = qids

        # --- stable sort-split into buckets, zero row copies ---
        order = np.argsort(codes, kind="stable")
        sorted_tbl = norm.take(pa.array(order))
        sorted_codes = codes[order]
        uniq_codes, starts = np.unique(sorted_codes, return_index=True)
        bounds = list(starts) + [n]
        for ci, code in enumerate(uniq_codes):
            btopic = uniq_topics[int(code) // num_queues]
            qid = int(code) % num_queues
            sub = sorted_tbl.slice(bounds[ci], bounds[ci + 1] - bounds[ci])
            parts.setdefault((btopic, qid), []).append(sub)

    broker = Broker(root)
    staged = []
    for (btopic, qid), tbls in parts.items():
        tbl = pa.concat_tables(tbls) if len(tbls) > 1 else tbls[0]
        staged.append((btopic, qid, broker.write_tmp(btopic, tbl)))
    return StagedBatch(staged)


def _commit_staged(
    root: str,
    staged: list[tuple[str, int, str]],
    epoch_id: str | None,
    retry_opts: dict | None = None,
) -> None:
    """Commit staged batches grouped per topic (multi-topic sink).

    Commits retry with backoff (O1/RetryUtil; retryTimes/sleepTimeMs
    options override the exponential defaults, RocketMQSink-style)."""
    broker = Broker(root)
    store_ts_us = int(time.time() * 1_000_000)
    by_topic: dict[str, list[tuple[int, str]]] = {}
    for btopic, qid, path in staged:
        by_topic.setdefault(btopic, []).append((qid, path))
    kwargs = retry_params(retry_opts or {})
    for btopic, items in by_topic.items():
        call_with_retry(
            lambda t=btopic, i=items: broker.commit_tmp(
                t, i, store_ts_us=store_ts_us, epoch_id=epoch_id
            ),
            **kwargs,
        )


def _epoch_key(opts: dict, batch_id) -> str:
    """A stream epoch's key, `<sha1(checkpointLocation)[:16]>-<batchId>`,
    or the batch id alone when no checkpoint location is among the
    writer's options."""
    loc = next((v for k, v in opts.items() if k.lower() == "checkpointlocation"), None)
    if not loc:
        return str(batch_id)
    return f"{hashlib.sha1(str(loc).encode()).hexdigest()[:16]}-{batch_id}"


def _staged(messages) -> list[tuple[str, int, str]]:
    return [s for m in messages if m for s in m.staged]


class _StagingWriter:
    """Write path shared by the batch and stream writers: each task
    stages one parquet per (topic, queue); the driver's commit publishes
    the staged files and abort drops them."""

    def __init__(self, options: dict):
        self.opts = normalize_options(dict(options))
        require(self.opts, "path", "topic")
        self.root = self.opts["path"]
        self.topic = self.opts["topic"]
        self.num_queues = int(self.opts.get("numQueues", "8"))
        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))

    def write(self, iterator):
        return _write_batches(self.root, self.topic, self.num_queues, iterator)

    def abort(self, messages, batchId=None):
        Broker(self.root).abort_tmp([(q, p) for _, q, p in _staged(messages)])


class RocketMQBatchWriter(_StagingWriter, DataSourceArrowWriter):
    def commit(self, messages):
        # `_epoch` (underscore-passthrough option) lets foreachBatch sinks
        # reuse the stream writer's idempotent-epoch commit (W9): a retried
        # epoch with the same id is a no-op instead of a duplicate. The
        # foreachBatch sink passes the stream writer's key (`_epoch_key`
        # of its checkpoint location and batch id); any other id is used
        # as given, so it must be unique among a topic's writers.
        _commit_staged(self.root, _staged(messages),
                       epoch_id=self.opts.get("_epoch"), retry_opts=self.opts)


class RocketMQStreamWriter(_StagingWriter, DataSourceStreamArrowWriter):
    """Per-epoch commit (flush-on-checkpoint analog, W9); epoch markers
    make retried and replayed epochs idempotent. Arrow-batch write path.

    An epoch is keyed by the query's checkpoint location (the
    `checkpointLocation` option, hashed as given) plus the batch id, so
    two queries writing one topic never take each other's epochs as
    done. A query whose location does not reach the writer as an option
    (one set only through spark.sql.streaming.checkpointLocation) is
    keyed by the batch id alone, and two such queries on one topic
    still drop each other's batches."""

    def commit(self, messages, batchId):
        _commit_staged(self.root, _staged(messages),
                       epoch_id=_epoch_key(self.opts, batchId), retry_opts=self.opts)


class RocketMQDataSource(DataSource):
    """format("rocketmq") — batch + streaming, read + write."""

    @classmethod
    def name(cls) -> str:
        return "rocketmq"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema):
        return RocketMQBatchReader(self.options)

    def streamReader(self, schema):
        return RocketMQStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return RocketMQBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return RocketMQStreamWriter(self.options)


def register(spark) -> None:
    """Register the DataSource (the SPI META-INF/services analog, S13).

    The Python workers that plan and read a scan learn the cluster's
    task slots from their environment, which the registered source
    captures here, so the slots go in first."""
    sc = spark.sparkContext
    sc.environment[TASK_SLOTS_ENV] = str(sc.defaultParallelism)
    spark.dataSource.register(RocketMQDataSource)
