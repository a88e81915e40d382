"""Deterministic local broker simulation.

Maps RocketMQ's storage model onto the local filesystem:

    <root>/<topic>/queue-<k>/<start_offset:020d>-<count>.parquet

- A queue is an append-only sequence of messages with contiguous offsets
  (reference: RocketMQPartitionSplit (topic, broker, queueId) +
  startingOffset, src .../source/split/RocketMQPartitionSplit.java:27-44).
- Segments are immutable once named into place (written to a temp file,
  then atomically renamed), so concurrent readers never see partial data.
- Message fields mirror the envelope (FIXTURES.md A5): offset, born_ts,
  store_ts (both micros), msg_id, keys, tags, props (map), body.

Offset semantics replicated from the reference:
- earliest/latest (RocketMQSourceFunction.java:330-365 initOffset)
- timestamp lookup = first offset with store_ts >= t
  (consumer.searchOffset analog, RocketMQPartitionSplitReader.java:139),
  answered from parquet footers: row groups whose store_ts max is below
  t are skipped unread, so a lookup reads the footers and, where they
  carry statistics, one row group's offset and store_ts columns
- bounded read: stop at first record with store_ts > stoppingTimestamp
  (RocketMQPartitionSplitReader.java:190-199).
"""

from __future__ import annotations

import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENT_RE = re.compile(r"^(\d{20})-(\d+)\.parquet$")

SEGMENT_SCHEMA = pa.schema(
    [
        ("offset", pa.int64()),
        ("born_ts", pa.int64()),  # epoch micros
        ("store_ts", pa.int64()),  # epoch micros
        ("msg_id", pa.string()),
        ("keys", pa.string()),
        ("tags", pa.string()),
        ("props", pa.map_(pa.string(), pa.string())),
        ("body", pa.binary()),
    ]
)


def _queue_dir(root: str, topic: str, queue_id: int) -> str:
    return os.path.join(root, topic, f"queue-{queue_id}")


class Broker:
    """Filesystem-backed topic/queue/offset store."""

    def __init__(self, root: str):
        self.root = root

    # -- topology ---------------------------------------------------------

    def create_topic(self, topic: str, num_queues: int = 8) -> None:
        for q in range(num_queues):
            os.makedirs(_queue_dir(self.root, topic, q), exist_ok=True)

    def topics(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def queues(self, topic: str) -> list[int]:
        """Discover queue ids (the enumerator's partition discovery,
        RocketMQSourceEnumerator.java:202-229 — re-listing per microbatch
        is free here)."""
        tdir = os.path.join(self.root, topic)
        if not os.path.isdir(tdir):
            return []
        out = []
        for d in os.listdir(tdir):
            if d.startswith("queue-"):
                out.append(int(d.split("-", 1)[1]))
        return sorted(out)

    # -- offsets ----------------------------------------------------------

    def segments(self, topic: str, queue_id: int) -> list[tuple[int, int, str]]:
        """[(start_offset, count, path)] sorted by start offset."""
        qdir = _queue_dir(self.root, topic, queue_id)
        if not os.path.isdir(qdir):
            return []
        segs = []
        for f in os.listdir(qdir):
            m = SEGMENT_RE.match(f)
            if m:
                segs.append((int(m.group(1)), int(m.group(2)), os.path.join(qdir, f)))
        segs.sort()
        return segs

    def earliest_offset(self, topic: str, queue_id: int) -> int:
        segs = self.segments(topic, queue_id)
        return segs[0][0] if segs else 0

    def latest_offset(self, topic: str, queue_id: int) -> int:
        """One past the last appended offset."""
        segs = self.segments(topic, queue_id)
        if not segs:
            return 0
        start, count, _ = segs[-1]
        return start + count

    def offset_for_timestamp(self, topic: str, queue_id: int, ts_us: int) -> int:
        """First offset, in log order, whose store_ts >= ts_us
        (searchOffset analog).

        store_ts need not be sorted, so segments are walked in order, but
        only through their parquet footers: a row group whose store_ts
        max is below ts_us cannot hold the answer and is never read. The
        first row group that can (or that has no statistics) is read for
        its offset and store_ts columns alone."""
        for _, _, path in self.segments(topic, queue_id):
            pf = pq.ParquetFile(path)
            md = pf.metadata
            col = [md.schema.column(j).path
                   for j in range(md.num_columns)].index("store_ts")
            for i in range(md.num_row_groups):
                stats = md.row_group(i).column(col).statistics
                if stats is not None and stats.has_min_max and stats.max < ts_us:
                    continue
                rg = pf.read_row_group(i, columns=["offset", "store_ts"])
                store = rg.column("store_ts").to_numpy(zero_copy_only=False)
                hits = np.flatnonzero(store >= ts_us)
                if hits.size:
                    return int(rg.column("offset")[int(hits[0])].as_py())
        return self.latest_offset(topic, queue_id)

    # -- read -------------------------------------------------------------

    def read_range(
        self, topic: str, queue_id: int, start: int, end: int
    ) -> pa.Table:
        """Messages with start <= offset < end as one Arrow table."""
        tables = []
        for seg_start, count, path in self.segments(topic, queue_id):
            if seg_start + count <= start or seg_start >= end:
                continue
            tbl = pq.read_table(path)
            lo = max(start - seg_start, 0)
            hi = min(end - seg_start, count)
            tables.append(tbl.slice(lo, hi - lo))
        if not tables:
            return SEGMENT_SCHEMA.empty_table()
        return pa.concat_tables(tables)

    # -- write ------------------------------------------------------------

    def write_tmp(self, topic: str, table: pa.Table) -> str:
        """Stage a message batch (no offsets yet) as a temp file inside the
        topic dir; returns its path. Used by writer tasks; the commit step
        assigns offsets and renames (flush-on-checkpoint analog,
        RocketMQSink.java:189-203)."""
        tdir = os.path.join(self.root, topic)
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, path)
        return path

    def commit_tmp(
        self,
        topic: str,
        staged: list[tuple[int, str]],
        store_ts_us: int,
        epoch_id: str | None = None,
    ) -> dict[int, tuple[int, int]]:
        """Atomically publish staged (queue_id, tmp_path) batches.

        Assigns contiguous offsets per queue in deterministic order
        (sorted by tmp path within each queue), stamps store_ts/msg_id/
        offset, renames into place. Returns {queue_id: (start, end)}.

        If epoch_id is given and this epoch was already committed, staged
        files are discarded (idempotent streaming epoch retry).
        """
        tdir = os.path.join(self.root, topic)
        os.makedirs(tdir, exist_ok=True)
        marker = (
            os.path.join(tdir, f".epoch-{epoch_id}.done") if epoch_id else None
        )
        if marker and os.path.exists(marker):
            for _, p in staged:
                if os.path.exists(p):
                    os.remove(p)
            return {}

        by_queue: dict[int, list[str]] = {}
        for queue_id, path in staged:
            by_queue.setdefault(queue_id, []).append(path)

        result: dict[int, tuple[int, int]] = {}
        for queue_id, paths in sorted(by_queue.items()):
            qdir = _queue_dir(self.root, topic, queue_id)
            os.makedirs(qdir, exist_ok=True)
            next_off = self.latest_offset(topic, queue_id)
            q_start = next_off
            for path in sorted(paths):
                tbl = pq.read_table(path)
                n = tbl.num_rows
                offsets = pa.array(range(next_off, next_off + n), pa.int64())
                msg_ids = pa.array(
                    [f"{topic}-{queue_id}-{o}" for o in range(next_off, next_off + n)],
                    pa.string(),
                )
                store = pa.array([store_ts_us] * n, pa.int64())
                tbl = (
                    tbl.set_column(0, "offset", offsets)
                    .set_column(2, "store_ts", store)
                    .set_column(3, "msg_id", msg_ids)
                )
                final = os.path.join(qdir, f"{next_off:020d}-{n}.parquet")
                pq.write_table(tbl, final + ".inprogress")
                os.rename(final + ".inprogress", final)
                os.remove(path)
                next_off += n
            result[queue_id] = (q_start, next_off)
        if marker:
            with open(marker, "w") as fh:
                fh.write("done")
        return result

    def abort_tmp(self, staged: list[tuple[int, str]]) -> None:
        for _, path in staged:
            if os.path.exists(path):
                os.remove(path)


# -- ACL (O3) --------------------------------------------------------------

ACL_FILE = "_acl.json"


def set_acl(root: str, credentials: dict[str, str]) -> None:
    """Enable broker-side ACL: accessKey -> secretKey map stored at the
    broker root (the sim analog of the broker's plain_acl.yml; clients
    present credentials per RocketMQConfig.ACCESS_KEY/SECRET_KEY ->
    AclClientRPCHook, legacy/RocketMQConfig.java:48-49,175-181). An
    empty dict disables the ACL."""
    import json

    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, ACL_FILE)
    if not credentials:
        if os.path.exists(path):
            os.remove(path)
        return
    tmp = path + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(credentials, f)
    os.replace(tmp, path)


def check_acl(root: str, access_key: str | None, secret_key: str | None) -> None:
    """Raise PermissionError unless the presented credentials match the
    broker ACL (no-op when the broker has no ACL configured — matching
    a broker with aclEnable=false)."""
    import json

    path = os.path.join(root, ACL_FILE)
    if not os.path.exists(path):
        return
    with open(path) as f:
        acl = json.load(f)
    if not access_key or acl.get(access_key) != secret_key:
        raise PermissionError(
            f"broker ACL rejected accessKey={access_key!r} "
            "(set accessKey/secretKey options to valid credentials)"
        )
