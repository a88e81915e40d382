"""Deterministic local broker simulation.

Maps RocketMQ's storage model onto the local filesystem:

    <root>/<topic>/queue-<k>/<start_offset:020d>-<count>-<store_us>.parquet

- A queue is an append-only sequence of messages with contiguous offsets
  (reference: RocketMQPartitionSplit (topic, broker, queueId) +
  startingOffset, src .../source/split/RocketMQPartitionSplit.java:27-44).
- Segments are immutable once named into place, so concurrent readers
  never see partial data.
- A segment stores born_ts (micros), keys, tags, props (map) and body
  (STORED_SCHEMA). The other envelope fields (FIXTURES.md A5) are
  derived on read: offset = segment start + row index, store_ts = the
  `store_us` in the name (the commit's store time, micros), and
  msg_id = "<topic>-<queue>-<offset>".
- Segments named `<start:020d>-<count>.parquet` store offset, store_ts
  and msg_id as columns (SEGMENT_SCHEMA); readers take those as stored.

Offset semantics replicated from the reference:
- earliest/latest (RocketMQSourceFunction.java:330-365 initOffset)
- timestamp lookup = first offset with store_ts >= t
  (consumer.searchOffset analog, RocketMQPartitionSplitReader.java:139),
  answered from segment names and, for segments that store store_ts,
  from parquet footers: row groups whose store_ts max is below t are
  skipped unread, so a lookup reads the footers and, where they carry
  statistics, one row group's offset and store_ts columns
- bounded read: stop at first record with store_ts > stoppingTimestamp
  (RocketMQPartitionSplitReader.java:190-199).

Commit protocol (flush-on-checkpoint analog, RocketMQSink.java:189-203).
Writer tasks stage each batch in the stored layout as a hidden file of
the topic dir (write_tmp); commit_tmp then only picks offsets and
publishes, under an exclusive flock on `<topic>/.lock`:
1. finish any intent record a failed or crashed commit left behind;
2. if the epoch is already done (`.epoch-<id>.done`), drop the staged
   files and stop;
3. pick each queue's next offsets and write an intent record
   (`.intent-<uuid>.json`: epoch, store time, each staged file's
   pending and final name);
4. hard-link each staged file to its final name (`os.link` never
   replaces a file), set its mtime to the publish moment, unlink the
   staged name;
5. write the epoch marker and remove the intent. A stream epoch's
   marker (`<checkpoint hash>-<N>`) replaces its query's marker for
   batch N-1, which Spark never replays once batch N has started; so
   a stream leaves one marker, not one per batch.
Once its intent is written a commit always completes: on retry, on a
replay of its epoch, or at the topic's next commit. A retried or
replayed epoch therefore publishes its messages exactly once, and two
writers never share an offset or overwrite a segment.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEGMENT_RE = re.compile(r"^(\d{20})-(\d+)(?:-(-?\d+))?\.parquet$")
STAGED_RE = re.compile(r"^\.tmp-[0-9a-f]{32}-(\d+)\.parquet$")
INTENT_RE = re.compile(r"^\.intent-[0-9a-f]{32}\.json$")
STREAM_EPOCH_RE = re.compile(r"^([0-9a-f]{16})-(\d+)$")  # datasource._epoch_key

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

# what a segment file stores; offset, store_ts and msg_id are derived
STORED_SCHEMA = pa.schema(
    [f for f in SEGMENT_SCHEMA if f.name not in ("offset", "store_ts", "msg_id")]
)


def _queue_dir(root: str, topic: str, queue_id: int) -> str:
    return os.path.join(root, topic, f"queue-{queue_id}")


def _store_us(path: str) -> int | None:
    """A segment's store time from its name; None for a segment that
    stores store_ts as a column."""
    m = SEGMENT_RE.match(os.path.basename(path))
    return int(m.group(3)) if m and m.group(3) is not None else None


def with_msg_ids(tbl: pa.Table, topic: str, queue_id: int) -> pa.Table:
    """`tbl` (SEGMENT_SCHEMA) with each null msg_id replaced by the
    derived "<topic>-<queue>-<offset>"."""
    ids = tbl.column("msg_id")
    if not ids.null_count:
        return tbl
    derived = pc.binary_join_element_wise(
        f"{topic}-{queue_id}-", pc.cast(tbl.column("offset"), pa.string()), "")
    return tbl.set_column(3, "msg_id", pc.coalesce(ids, derived))


@contextlib.contextmanager
def _topic_lock(tdir: str):
    """Exclusive flock on the topic's lock file, across threads and
    processes (each call opens its own file description)."""
    fd = os.open(os.path.join(tdir, ".lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _intents(tdir: str) -> list[tuple[str, dict]]:
    out = []
    for name in sorted(os.listdir(tdir)):
        if INTENT_RE.match(name):
            path = os.path.join(tdir, name)
            with contextlib.suppress(FileNotFoundError), open(path) as fh:
                out.append((path, json.load(fh)))  # unless carried out meanwhile
    return out


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _publish(tdir: str, intent_path: str, intent: dict) -> None:
    """Carry out an intent record; safe to repeat after any failure.

    A pending file whose final name already exists is done if both
    names are the same file; any other file under the final name was
    not published by this intent, so that raises FileExistsError and
    the intent stays for the next commit to report again."""
    for pending, final in intent["files"]:
        pending = os.path.join(tdir, pending)
        if final is None:  # an empty batch: nothing to publish
            _remove(pending)
            continue
        final = os.path.join(tdir, final)
        try:
            os.link(pending, final)
            os.utime(final)  # visible from now, not from when it was staged
        except FileExistsError:
            if not (os.path.exists(pending) and os.path.samefile(pending, final)):
                raise
        except FileNotFoundError:
            if not os.path.exists(final):
                raise
            continue  # linked and unlinked by an earlier attempt
        os.remove(pending)
    epoch = intent["epoch"]
    if epoch is not None:
        with open(os.path.join(tdir, f".epoch-{epoch}.done"), "w"):
            pass
        m = STREAM_EPOCH_RE.match(epoch)
        if m and int(m.group(2)) > 0:
            # Spark starts batch N only once N-1 is in the query's commit
            # log, so N-1 is never replayed and its marker is spent.
            _remove(os.path.join(tdir, f".epoch-{m.group(1)}-{int(m.group(2)) - 1}.done"))
    os.remove(intent_path)


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

        store_ts need not be sorted, so segments are walked in order. A
        segment named with its store time is answered from the name and
        never opened. One that stores store_ts is read only through its
        parquet footer: a row group whose store_ts max is below ts_us
        cannot hold the answer and is never read. The first row group
        that can (or that has no statistics) is read for its offset and
        store_ts columns alone."""
        for start, count, path in self.segments(topic, queue_id):
            store_us = _store_us(path)
            if store_us is not None:
                if count and store_us >= ts_us:
                    return start
                continue
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
        """Messages with start <= offset < end as one Arrow table
        (SEGMENT_SCHEMA)."""
        return with_msg_ids(self.read_stored(topic, queue_id, start, end),
                            topic, queue_id)

    def read_stored(
        self, topic: str, queue_id: int, start: int, end: int
    ) -> pa.Table:
        """read_range without building msg_id: rows of segments that do
        not store it have a null msg_id, for with_msg_ids to derive
        once the caller has filtered."""
        tables = []
        for seg_start, count, path in self.segments(topic, queue_id):
            if seg_start + count <= start or seg_start >= end:
                continue
            lo = max(start - seg_start, 0)
            hi = min(end - seg_start, count)
            tbl = pq.read_table(path).slice(lo, hi - lo)
            store_us = _store_us(path)
            if store_us is not None:
                n = hi - lo
                first = seg_start + lo
                tbl = pa.Table.from_arrays(
                    [
                        pa.array(np.arange(first, first + n, dtype=np.int64)),
                        tbl.column("born_ts"),
                        pa.array(np.full(n, store_us, dtype=np.int64)),
                        pa.nulls(n, pa.string()),
                        *(tbl.column(c) for c in ("keys", "tags", "props", "body")),
                    ],
                    schema=SEGMENT_SCHEMA,
                )
            tables.append(tbl)
        if not tables:
            return SEGMENT_SCHEMA.empty_table()
        return pa.concat_tables(tables)

    # -- write ------------------------------------------------------------

    def write_tmp(self, topic: str, table: pa.Table) -> str:
        """Stage a message batch (no offsets yet) as a hidden file of the
        topic dir, already in the stored layout, and return its path; the
        name carries the row count, so the commit opens no staged file.
        A SEGMENT_SCHEMA table's offset, store_ts and msg_id columns are
        placeholders and are dropped."""
        tdir = os.path.join(self.root, topic)
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f".tmp-{uuid.uuid4().hex}-{table.num_rows}.parquet")
        pq.write_table(table.select(STORED_SCHEMA.names), path)
        return path

    def commit_tmp(
        self,
        topic: str,
        staged: list[tuple[int, str]],
        store_ts_us: int,
        epoch_id: str | None = None,
    ) -> dict[int, tuple[int, int]]:
        """Publish staged (queue_id, tmp_path) batches (see the module
        docstring for the protocol). Returns {queue_id: (start, end)},
        empty when the commit had already been carried out.

        Offsets are contiguous per queue, in the order of the staged
        paths within each queue; every segment gets store time
        store_ts_us. With an epoch_id, a commit of an epoch already done
        drops its staged files: a retried or replayed streaming epoch
        publishes once. Without one, a retry after a failure finds its
        staged files published (by its own intent) and returns."""
        tdir = os.path.join(self.root, topic)
        os.makedirs(tdir, exist_ok=True)
        with _topic_lock(tdir):
            for intent_path, intent in _intents(tdir):
                _publish(tdir, intent_path, intent)
            if epoch_id and os.path.exists(os.path.join(tdir, f".epoch-{epoch_id}.done")):
                for _, path in staged:
                    _remove(path)
                return {}
            present = [os.path.exists(p) for _, p in staged]
            if staged and not any(present):
                return {}
            if not all(present):
                missing = [p for (_, p), ok in zip(staged, present) if not ok]
                raise FileNotFoundError(f"staged files vanished: {missing}")

            by_queue: dict[int, list[str]] = {}
            for queue_id, path in staged:
                by_queue.setdefault(queue_id, []).append(path)
            files: list[tuple[str, str | None]] = []
            result: dict[int, tuple[int, int]] = {}
            for queue_id, paths in sorted(by_queue.items()):
                os.makedirs(_queue_dir(self.root, topic, queue_id), exist_ok=True)
                next_off = q_start = self.latest_offset(topic, queue_id)
                for path in sorted(paths):
                    n = int(STAGED_RE.match(os.path.basename(path)).group(1))
                    final = (f"queue-{queue_id}/{next_off:020d}-{n}-{store_ts_us}.parquet"
                             if n else None)
                    files.append((os.path.basename(path), final))
                    next_off += n
                result[queue_id] = (q_start, next_off)

            intent = {"epoch": epoch_id or None, "store_us": store_ts_us, "files": files}
            intent_path = os.path.join(tdir, f".intent-{uuid.uuid4().hex}.json")
            with open(intent_path + ".tmp", "w") as fh:
                json.dump(intent, fh)
            os.rename(intent_path + ".tmp", intent_path)
            _publish(tdir, intent_path, intent)
        return result

    def abort_tmp(self, staged: list[tuple[int, str]]) -> None:
        """Drop staged files, except those an intent record names: that
        commit is carried out on retry, on a replay of its epoch, or at
        the topic's next commit."""
        tdirs = {os.path.dirname(p) for _, p in staged}
        named = {os.path.join(tdir, pending)
                 for tdir in tdirs if os.path.isdir(tdir)
                 for _, intent in _intents(tdir) for pending, _ in intent["files"]}
        for _, path in staged:
            if path not in named:
                _remove(path)


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
