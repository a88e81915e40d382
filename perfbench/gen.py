"""Seeded input generators and their expected results.

Everything here uses numpy and pyarrow only: expected results are
computed without Spark and without importing the package under test,
so a bug in the program cannot leak into the oracle. Every generator
takes the seed explicitly; the same seed gives byte-identical inputs.

Messages are pyarrow tables in the broker's segment layout (see
SEGMENT_ARROW); `offset`, `store_ts` and `msg_id` are left for whoever
lays the segment into a queue.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Column order and types of a broker segment file (the documented
# on-disk layout: <root>/<topic>/queue-<k>/<start:020d>-<count>.parquet).
SEGMENT_ARROW = pa.schema([
    ("offset", pa.int64()),
    ("born_ts", pa.int64()),
    ("store_ts", pa.int64()),
    ("msg_id", pa.string()),
    ("keys", pa.string()),
    ("tags", pa.string()),
    ("props", pa.map_(pa.string(), pa.string())),
    ("body", pa.binary()),
])

NUM_QUEUES = 8
BASE_TS_US = 1_700_000_000_000_000  # fixed epoch so store_ts bounds repeat


def str_array(values) -> pa.Array:
    return pa.array(np.asarray(values).astype(str), pa.string())


def _join(parts, sep: str = "|") -> pa.Array:
    return pc.binary_join_element_wise(*parts, sep)


def _props(names: list[str], columns: list[np.ndarray]) -> pa.Array:
    """map<string,string> array with the same keys on every row."""
    n = len(columns[0])
    keys = pa.array(np.tile(np.array(names, dtype=object), n), pa.string())
    vals = np.empty(n * len(names), dtype=object)
    for i, col in enumerate(columns):
        vals[i :: len(names)] = np.asarray(col).astype(str)
    offsets = pa.array(np.arange(0, n * len(names) + 1, len(names), dtype=np.int32))
    return pa.MapArray.from_arrays(offsets, keys, pa.array(vals, pa.string()))


def messages(keys, tags, props, body, born_ts_us) -> pa.Table:
    n = len(body)
    zeros = pa.array(np.zeros(n, np.int64))
    return pa.Table.from_arrays(
        [
            zeros,
            pa.array(np.asarray(born_ts_us, np.int64)),
            zeros,
            pa.array([""] * n, pa.string()),
            keys,
            tags,
            props,
            body.cast(pa.binary()),
        ],
        schema=SEGMENT_ARROW,
    )


# -- replay -------------------------------------------------------------

REPLAY_SCHEMA = "id bigint, user string, amount int, cat string"
REPLAY_TAGS = np.array(["a", "b", "c", "d"])
REPLAY_TAG_FILTER = "a || b"
REPLAY_SQL = "prio >= 4 AND region <> 'eu'"
REPLAY_REGIONS = np.array(["us", "eu", "ap"])


@dataclass
class ReplayInputs:
    """A backlog of `segments_per_queue` large segments per queue; segment
    round s is stamped store_ts = BASE_TS_US + s seconds, and the replay
    starts at round 1 (`start_ms`), so round 0 is skipped by the
    timestamp bound."""

    rounds: list[list[pa.Table]]  # rounds[s][queue]
    start_ms: int
    expected: dict  # cat -> (count, sum(amount))
    window_msgs: int  # messages at or after start_ms
    dirty_lines: int  # dirty lines inside the window that pass both filters
    kept_rows: int


def replay_inputs(
    seed: int,
    n_msgs: int,
    segments_per_queue: int = 4,
    dirty_share: float = 0.02,
) -> ReplayInputs:
    rng = np.random.default_rng([seed, 1])
    per = n_msgs // (NUM_QUEUES * segments_per_queue)
    n = per * NUM_QUEUES * segments_per_queue
    ids = rng.permutation(n).astype(np.int64) + 1
    user = rng.integers(0, 5000, n)
    amount = rng.integers(1, 1000, n)
    cat = rng.integers(0, 10, n)
    tag_idx = rng.choice(4, n, p=[0.3, 0.3, 0.2, 0.2])
    prio = rng.integers(0, 10, n)
    region = rng.integers(0, 3, n)
    dirty = rng.random(n) < dirty_share
    dirty_kind = rng.integers(0, 2, n)  # 0: missing field, 1: bad number

    id_s, user_s = str_array(ids), pc.binary_join_element_wise("u", str_array(user), "")
    amt_s, cat_s = str_array(amount), pc.binary_join_element_wise("c", str_array(cat), "")
    clean = _join([id_s, user_s, amt_s, cat_s])
    missing = _join([id_s, user_s, amt_s])
    badnum = _join([id_s, user_s, pc.binary_join_element_wise("x", amt_s, ""), cat_s])
    body = pc.if_else(
        pa.array(dirty & (dirty_kind == 0)),
        missing,
        pc.if_else(pa.array(dirty & (dirty_kind == 1)), badnum, clean),
    )
    tags = pa.array(REPLAY_TAGS[tag_idx], pa.string())
    props = _props(["prio", "region"], [prio, REPLAY_REGIONS[region]])
    keys = pc.binary_join_element_wise("k", id_s, "")
    born = BASE_TS_US - 60_000_000 + np.arange(n, dtype=np.int64)
    table = messages(keys, tags, props, body, born)

    rounds = []
    seg_round = np.empty(n, np.int64)
    for s in range(segments_per_queue):
        row = []
        for q in range(NUM_QUEUES):
            lo = (s * NUM_QUEUES + q) * per
            row.append(table.slice(lo, per))
            seg_round[lo : lo + per] = s
        rounds.append(row)

    in_window = seg_round >= 1
    passes = in_window & (tag_idx <= 1) & (prio >= 4) & (region != 1)
    kept = passes & ~dirty
    counts = np.bincount(cat[kept], minlength=10)
    sums = np.bincount(cat[kept], weights=amount[kept], minlength=10)
    expected = {
        f"c{c}": (int(counts[c]), int(sums[c])) for c in range(10) if counts[c]
    }
    return ReplayInputs(
        rounds=rounds,
        start_ms=(BASE_TS_US + 1_000_000) // 1000,
        expected=expected,
        window_msgs=int(in_window.sum()),
        dirty_lines=int((passes & dirty).sum()),
        kept_rows=int(kept.sum()),
    )


# -- produce ------------------------------------------------------------

PRODUCE_OPTIONS = {
    "fieldDelimiter": "|",
    "keyColumns": "user",
    "isDynamicTag": "true",
    "dynamicTagColumn": "kind",
    "dynamicTagColumnWriteIncluded": "false",
    "isDynamicProperty": "true",
    "dynamicPropertyColumns": "region",
}


@dataclass
class ProduceInputs:
    rows: pa.Table  # id, user, kind, region, amount, note
    queue_counts: np.ndarray  # expected messages per queue
    expected: pa.Table  # keys, tags, region, body — sorted by body


def queue_of(keys: list[str], num_queues: int = NUM_QUEUES) -> list[int]:
    """Queue a keyed message routes to: crc32 of the UTF-8 key."""
    return [zlib.crc32(k.encode("utf-8")) % num_queues for k in keys]


def produce_inputs(seed: int, n_rows: int, n_users: int = 2000) -> ProduceInputs:
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n_rows, dtype=np.int64)
    user = np.minimum(rng.zipf(1.2, n_rows), n_users) - 1  # skewed keys
    kind = rng.integers(0, 5, n_rows)
    region = rng.integers(0, 3, n_rows)
    amount = rng.integers(-500, 5000, n_rows).astype(np.int32)
    note_len = rng.integers(4, 24, n_rows)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    chars = alphabet[rng.integers(0, 26, int(note_len.sum()))]
    offsets = np.concatenate([[0], np.cumsum(note_len)]).astype(np.int32)
    note = pa.StringArray.from_buffers(
        n_rows, pa.py_buffer(offsets.tobytes()), pa.py_buffer(chars.tobytes())
    )
    user_s = pc.binary_join_element_wise("user-", str_array(user), "")
    kind_s = pc.binary_join_element_wise("t", str_array(kind), "")
    region_s = pa.array(REPLAY_REGIONS[region], pa.string())
    rows = pa.table(
        {
            "id": pa.array(ids),
            "user": user_s,
            "kind": kind_s,
            "region": region_s,
            "amount": pa.array(amount),
            "note": note,
        }
    )
    uniq, inverse = np.unique(user, return_inverse=True)
    uq = np.array(queue_of([f"user-{u}" for u in uniq]))
    queue_counts = np.bincount(uq[inverse], minlength=NUM_QUEUES)
    body = _join([str_array(ids), str_array(amount), note])
    expected = pa.table(
        {"keys": user_s, "tags": kind_s, "region": region_s, "body": body}
    ).sort_by("body")
    return ProduceInputs(rows=rows, queue_counts=queue_counts, expected=expected)


# -- live_tail ------------------------------------------------------------

TAIL_SCHEMA = "key string, seq bigint, val int"


def redeliveries(n: int, share: float) -> int:
    return int(round(n * share))


def distinct_for_sent(sent: int, share: float) -> int:
    """Distinct message count whose sends, redeliveries included, total
    exactly `sent` (or just above, where no count hits it exactly)."""
    n = int(sent / (1 + share))
    while n + redeliveries(n, share) < sent:
        n += 1
    return n


def tail_messages(seed: int, first_seq: int, n: int, redeliver_share: float):
    """n distinct messages with sequence numbers first_seq.. of which a
    seeded redeliver_share (rounded) is sent a second time, 1-40 messages
    after the original. Returns the sequence number of every message
    SENT, in send order (a redelivered seq appears twice)."""
    rng = np.random.default_rng([seed, 3, first_seq])
    seqs = np.arange(first_seq, first_seq + n, dtype=np.int64)
    redo = np.zeros(n, bool)
    redo[rng.choice(n, size=redeliveries(n, redeliver_share), replace=False)] = True
    # a redelivery follows its original after 1..40 other messages
    lag = rng.integers(1, 40, n)
    pos = np.concatenate([np.arange(n, dtype=np.float64), np.nonzero(redo)[0] + lag[redo] + 0.5])
    sent = np.concatenate([seqs, seqs[redo]])
    return sent[np.argsort(pos, kind="stable")]


def tail_table(seqs: np.ndarray, born_ts_us: np.ndarray) -> pa.Table:
    """Segment rows for the given sequence numbers (one per message)."""
    seq_s = str_array(seqs)
    key = pc.binary_join_element_wise("k", seq_s, "")
    val = str_array((seqs * 7919) % 100003)
    body = _join([key, seq_s, val])
    n = len(seqs)
    empty_props = pa.MapArray.from_arrays(
        pa.array(np.zeros(n + 1, np.int32)),
        pa.array([], pa.string()),
        pa.array([], pa.string()),
    )
    return messages(key, pa.array(["t"] * n, pa.string()), empty_props, body, born_ts_us)


# -- curate -------------------------------------------------------------

CURATE_SCHEMA = "doc_id bigint, src string, text binary"
CURATE_HEADERS = "doc_id,src"


@dataclass
class CurateInputs:
    table: pa.Table  # messages: props carry doc_id/src, body = raw text
    expected_kept: np.ndarray  # sorted doc ids that must survive
    dup_pairs: int  # planted (original, duplicate) pairs
    n_docs: int


def curate_inputs(
    seed: int,
    n_docs: int,
    exact_share: float = 0.08,
    near_share: float = 0.08,
    low_share: float = 0.04,
) -> CurateInputs:
    """Documents of 40-70 random words over a 20k-word vocabulary (no
    two unrelated documents share a 5-word shingle in practice), plus
    planted families:
      exact duplicates — a copy of an original;
      near duplicates  — a copy re-cased, re-punctuated and with one
                         word appended (normalized-shingle Jaccard > 0.9);
      low quality      — 5-word documents, which fail the length rule.
    The survivor of a duplicate family is its smallest doc id."""
    rng = np.random.default_rng([seed, 4])
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    vocab = []
    for length in rng.integers(3, 9, 20000):
        vocab.append(letters[rng.integers(0, 26, length)].tobytes().decode())
    vocab = np.array(vocab, dtype=object)

    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_low = int(n_docs * low_share)
    n_orig = n_docs - n_exact - n_near - n_low
    texts = []
    for length in rng.integers(40, 71, n_orig):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), length)]))
    source = rng.integers(0, n_orig, n_exact + n_near)
    family = list(range(n_orig)) + list(source)  # family id per doc
    for i, s in enumerate(source):
        if i < n_exact:
            texts.append(texts[s])
        else:
            words = texts[s].split(" ")
            words[0] = words[0].capitalize()
            words[len(words) // 2] += ","
            words.append(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words) + ".")
    for _ in range(n_low):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), 5)]))
        family.append(-1)

    doc_ids = rng.permutation(n_docs).astype(np.int64) * 3 + 11
    family = np.array(family)
    # survivor per family = the smallest id; low-quality docs never survive
    order = np.lexsort((doc_ids, family))
    fam_sorted = family[order]
    first = np.ones(n_docs, bool)
    first[1:] = fam_sorted[1:] != fam_sorted[:-1]
    keep = first & (fam_sorted >= 0)
    expected_kept = np.sort(doc_ids[order][keep])

    perm = rng.permutation(n_docs)  # interleave families in the log
    doc_ids, texts = doc_ids[perm], [texts[i] for i in perm]
    src = np.array(["web", "books", "code"], dtype=object)[rng.integers(0, 3, n_docs)]
    body = pa.array(texts, pa.string())
    props = _props(["doc_id", "src"], [doc_ids, src])
    keys = pc.binary_join_element_wise("d", str_array(doc_ids), "")
    born = BASE_TS_US + np.arange(n_docs, dtype=np.int64)
    table = messages(keys, pa.array(["doc"] * n_docs, pa.string()), props, body, born)
    return CurateInputs(
        table=table,
        expected_kept=expected_kept,
        dup_pairs=n_exact + n_near,
        n_docs=n_docs,
    )
