"""Open-loop message generator for the live_tail workload.

Runs as its own process, separate from the system under test, and
appends to one topic in the broker's on-disk layout (immutable
`<start:020d>-<count>.parquet` segments, written to a temp name and
renamed into place):

1. backlog: `--backlog` distinct messages (plus seeded redeliveries) as
   many small segments, then prints {"ready": ...} on stdout;
2. waits for the go file, which holds the schedule start time t0;
3. tail: every TICK_S seconds from t0 appends the messages the
   schedule says are due (one segment per queue), at `--rate` messages
   per second, for `--duration` seconds, whatever the consumer does.

Each message's born_ts is the time the schedule said to send it. At the
end it saves the schedule (seq -> due time) next to the go file and
prints {"late_s_max": ..., "late_s_p50": ...}: how far behind schedule
appends completed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

TICK_S = 0.1  # schedule granularity: one segment per queue per tick


class TopicAppender:
    def __init__(self, root: str, topic: str, num_queues: int):
        self.topic = topic
        self.num_queues = num_queues
        self.dirs = [os.path.join(root, topic, f"queue-{q}") for q in range(num_queues)]
        for d in self.dirs:
            os.makedirs(d, exist_ok=True)
        self.next_off = [0] * num_queues
        self.segments = 0

    def append(self, seqs: np.ndarray, born_us: np.ndarray) -> None:
        """Append messages; message seq goes to queue seq % num_queues."""
        store_us = int(time.time() * 1_000_000)
        queue = seqs % self.num_queues
        for q in range(self.num_queues):
            sel = queue == q
            n = int(sel.sum())
            if n == 0:
                continue
            start = self.next_off[q]
            offs = np.arange(start, start + n, dtype=np.int64)
            prefix = f"{self.topic}-{q}-"
            tbl = gen.tail_table(seqs[sel], born_us[sel])
            tbl = (
                tbl.set_column(0, "offset", pa.array(offs))
                .set_column(2, "store_ts", pa.array(np.full(n, store_us, np.int64)))
                .set_column(
                    3, "msg_id",
                    pc.binary_join_element_wise(prefix, gen.str_array(offs), ""),
                )
            )
            final = os.path.join(self.dirs[q], f"{start:020d}-{n}.parquet")
            pq.write_table(tbl, final + ".inprogress")
            os.rename(final + ".inprogress", final)
            self.next_off[q] = start + n
            self.segments += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--segment-msgs", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--duration", type=float, required=True)
    ap.add_argument("--redeliver", type=float, required=True)
    ap.add_argument("--go", required=True)
    args = ap.parse_args(argv)

    out = TopicAppender(args.root, args.topic, gen.NUM_QUEUES)
    backlog = gen.tail_messages(args.seed, 0, args.backlog, args.redeliver)
    step = args.segment_msgs * gen.NUM_QUEUES
    for lo in range(0, len(backlog), step):
        seqs = backlog[lo : lo + step]
        out.append(seqs, np.full(len(seqs), int(time.time() * 1_000_000), np.int64))
    print(json.dumps({"ready": True, "sent": len(backlog), "segments": out.segments}),
          flush=True)

    while not os.path.exists(args.go):
        time.sleep(0.005)
    with open(args.go) as fh:
        t0 = float(fh.read())

    n_ticks = int(round(args.duration / TICK_S))
    per_tick = args.rate * TICK_S
    n_distinct = int(round(n_ticks * per_tick / (1 + args.redeliver)))
    tail = gen.tail_messages(args.seed, args.backlog, n_distinct, args.redeliver)
    bounds = np.round(np.arange(n_ticks + 1) * len(tail) / n_ticks).astype(int)
    due = np.empty(len(tail))
    late = []
    for k in range(n_ticks):
        t_due = t0 + k * TICK_S
        delay = t_due - time.time()
        if delay > 0:
            time.sleep(delay)
        seqs = tail[bounds[k] : bounds[k + 1]]
        due[bounds[k] : bounds[k + 1]] = t_due
        out.append(seqs, np.full(len(seqs), int(t_due * 1_000_000), np.int64))
        late.append(time.time() - t_due)
    # first send of each seq fixes its due time
    seq_u, first = np.unique(tail, return_index=True)
    np.save(args.go + ".schedule.npy", np.stack([seq_u.astype(np.float64), due[first]]))
    print(json.dumps({
        "sent": len(tail),
        "segments": out.segments,
        "late_s_max": float(np.max(late)),
        "late_s_p50": float(np.median(late)),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
