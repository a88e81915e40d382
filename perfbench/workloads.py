"""One benchmark run of one workload (started by run.py in a fresh
process with the environment already prepared).

Timing starts when set-up ends. Set-up covers Spark start-up,
DataSource registration, laying the seeded inputs into the broker and
the warm-up. The laying step runs three times into fresh broker roots
and counts with its median; the JVM starts once per process, so Spark
start-up and the first (cold) pass are counted once.

Every time that goes into a metric is wall time less the share of it
the hypervisor stole from this machine's CPUs (see `unstolen`); the raw
wall times and the stolen share are printed with the run's details.

Every timed operation's output is checked against results the
generator computed without Spark; a failed check or an exception
counts as a failed operation.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs of the machine so far, from
    /proc/stat: busy = user + nice + system + irq + softirq; stolen =
    time the hypervisor ran something else while a CPU had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


T_PROCESS, TICKS_PROCESS = time.perf_counter(), cpu_ticks()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import probes  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes, fixed per workload (the seed changes content, not size).
REPLAY_MSGS = 400_000
# The first pass is cold, and JIT keeps speeding the replay up for a
# few more passes (2.9 s down to 2.0 s per pass), so set-up runs four.
REPLAY_WARMUP_PASSES = 4
PRODUCE_ROWS = 100_000
CURATE_DOCS = 2_000
CURATE_WARMUP_DOCS = 100  # the cold pass is compile-bound, not data-bound
TAIL_MAX_PER_TRIGGER = 8_000
TAIL_WARMUP_BATCHES = 2  # the first catch-up batch after one was still ~25% slower
TAIL_CATCHUP_BATCHES = 4
# backlog sends (redeliveries included): the warm-up micro-batches, then
# the full catch-up batches
TAIL_BACKLOG_SENT = (TAIL_WARMUP_BATCHES + TAIL_CATCHUP_BATCHES) * TAIL_MAX_PER_TRIGGER
TAIL_REDELIVER = 0.05
TAIL_SEGMENT_MSGS = 25  # messages per backlog segment per queue
TAIL_RATE = 1_000.0  # messages sent per second in phase B
TAIL_PHASE_B_SHARE = 0.6  # phase B lasts this share of --seconds
TAIL_WATERMARK = "60 seconds"
LAY_REPEATS = 3
MIN_OPS = 3

# end-to-end metric -> unit; printed by the untraced run of every workload
E2E_UNITS = {
    "setup_s": "s",
    "msgs_per_s": "msg/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}


class Run:
    """State of one run: session, tracer, counters."""

    def __init__(self, args, tracer: Tracer):
        self.args = args
        self.tracer = tracer
        self.work = args.work
        self.seconds = args.seconds
        self.seed = args.seed
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.setup_parts: dict[str, float] = {}  # unstolen s
        self.setup_wall: dict[str, float] = {}
        self.info: dict = {}
        self.layer: dict = {}
        self.gen_s = 0.0
        self.first_job_s = None  # the cold pass, where warm-up is more than one
        self.probe = None  # per-layer probes, run after the timed phase if traced

    def outcome(self, ok: bool, what: str, n: int = 1, bad: int | None = None):
        self.attempted += n
        lost = (0 if ok else n) if bad is None else bad
        self.failed += lost
        if lost:
            print(f"check failed: {what}", file=sys.stderr, flush=True)

    def set_up(self, part: str, wall: float, unstolen_s: float) -> None:
        self.setup_wall[part] = wall
        self.setup_parts[part] = unstolen_s

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        from rocketmq_flink_spark.session import get_spark
        from rocketmq_flink_spark.sources import register

        # A fixed-size heap under the parallel collector: its eden is one
        # fixed range, so peak RSS follows the data the program retains.
        # G1 grows the heap by GC time instead, which made the peak RSS of
        # ten curate runs spread by 28%.
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        java_opts = (f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                     f" -XX:+UseParallelGC -Xms{heap}")
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        }
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", master=self.args.master, extra_conf=conf
            )
            register(self.spark)
        # process start to session ready, less input generation (the
        # benchmark's own work)
        wall = time.perf_counter() - T_PROCESS - self.gen_s
        self.set_up("session", wall, wall * kept_share(TICKS_PROCESS, cpu_ticks()))

    def generate(self, fn, *args):
        t0 = time.perf_counter()
        out = fn(self.seed, *args)
        self.gen_s += time.perf_counter() - t0
        return out


def kept_share(c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two cpu_ticks()
    readings that it got: busy ÷ (busy + stolen)."""
    busy, stolen = c1[0] - c0[0], c1[1] - c0[1]
    return busy / (busy + stolen) if busy + stolen else 1.0


def unstolen(wall: float, c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """`wall` seconds less the share the hypervisor stole in that span.

    On a shared host the stolen share swings between about 1% and 40%
    from one minute to the next and moves every wall time with it; this
    estimates the time on the same CPUs had nothing been stolen. It is
    exact for a span where one thread, or every CPU, is busy throughout."""
    return wall * kept_share(c0, c1)


class Stopwatch:
    def __init__(self):
        self.t0, self.c0 = time.perf_counter(), cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall s, unstolen s) since the stopwatch was made."""
        wall = time.perf_counter() - self.t0
        return wall, unstolen(wall, self.c0, cpu_ticks())


def timed(fn):
    """(unstolen s, wall s, result) of fn()."""
    sw = Stopwatch()
    out = fn()
    return *sw.read()[::-1], out


def lay_rounds(root: str, topic: str, rounds) -> None:
    """Lay seeded segments through the broker's own append path; round s
    is stamped store_ts = BASE_TS_US + s seconds."""
    from rocketmq_flink_spark.sources import Broker

    broker = Broker(root)
    broker.create_topic(topic, gen.NUM_QUEUES)
    for s, row in enumerate(rounds):
        staged = [(q, broker.write_tmp(topic, tbl)) for q, tbl in enumerate(row)]
        broker.commit_tmp(topic, staged, store_ts_us=gen.BASE_TS_US + s * 1_000_000)


def lay_repeated(run: Run, topic: str, rounds) -> str:
    """Lay the inputs LAY_REPEATS times into fresh roots; keep the last."""
    times, walls, root = [], [], None
    for i in range(LAY_REPEATS):
        if root is not None:
            shutil.rmtree(root)
        root = run.path(f"broker{i}")
        with run.tracer.span("broker.lay"):
            dt, wall, _ = timed(lambda r=root: lay_rounds(r, topic, rounds))
        times.append(dt)
        walls.append(wall)
    run.set_up("lay", statistics.median(walls), statistics.median(times))
    return root


def closed_loop(run: Run, op, check, min_ops: int = MIN_OPS):
    """Run `op(i)` back to back, at least min_ops times, then while the
    last operation's duration still fits in run.seconds; returns the
    per-operation unstolen times (the wall times go to run.info).
    check(i, result) -> (ok, what)."""
    durations, walls = [], []
    t_end = time.perf_counter() + run.seconds
    i, last = 0, 0.0
    while i < min_ops or time.perf_counter() + last <= t_end:
        sw = Stopwatch()
        try:
            res = op(i)
            last, dt = sw.read()
            durations.append(dt)
            walls.append(round(last, 4))
            ok, what = check(i, res)
        except Exception:  # an operation that raises is a failed operation
            last = sw.read()[0]
            traceback.print_exc()
            ok, what = False, f"operation {i} raised"
        run.outcome(ok, what)
        i += 1
    run.info["op_wall_s"] = walls
    return durations


def batch_metrics(run: Run, items_per_op: int, durations: list[float]) -> dict:
    if not durations:
        raise RuntimeError("every timed operation raised")
    d = np.array(durations)
    return {
        "msgs_per_s": items_per_op / float(np.median(d)),
        "latency_p50_s": float(np.percentile(d, 50)),
        "latency_p90_s": float(np.percentile(d, 90)),
    }


def read_topic(root: str, topic: str, columns=None) -> tuple[pa.Table, list[int]]:
    """Every message of a topic, straight from its segment files, plus
    the per-queue message counts."""
    tables, counts = [], []
    tdir = os.path.join(root, topic)
    for q in range(gen.NUM_QUEUES):
        qdir = os.path.join(tdir, f"queue-{q}")
        n = 0
        if os.path.isdir(qdir):
            for name in sorted(os.listdir(qdir)):
                if name.endswith(".parquet"):
                    t = pq.read_table(os.path.join(qdir, name), columns=columns)
                    tables.append(t)
                    n += t.num_rows
        counts.append(n)
    if not tables:
        return pa.table({c: [] for c in (columns or [])}), counts
    return pa.concat_tables(tables), counts


# -- replay -------------------------------------------------------------

def replay_job(spark, root: str, inp: gen.ReplayInputs):
    from pyspark.sql import functions as F

    from rocketmq_flink_spark.functions.codec import decode_envelope

    env = (
        spark.read.format("rocketmq")
        .option("path", root)
        .option("topic", "events")
        .option("startTimeMs", str(inp.start_ms))
        .option("tag", gen.REPLAY_TAG_FILTER)
        .option("sql", gen.REPLAY_SQL)
        .load()
    )
    rows = decode_envelope(
        env, gen.REPLAY_SCHEMA, {"fieldDelimiter": "|", "lengthCheck": "SKIP"}
    )
    return rows.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")
    )


def replay_check(inp):
    def check(i, rows):
        got = {r["cat"]: (int(r["n"]), int(r["s"])) for r in rows}
        return got == inp.expected, f"replay {i}: groupBy result differs"
    return check


def run_replay(run: Run) -> dict:
    inp = run.generate(gen.replay_inputs, REPLAY_MSGS)
    run.start_session()
    root = lay_repeated(run, "events", inp.rounds)
    check = replay_check(inp)
    sw = Stopwatch()
    warm_s = []
    for i in range(REPLAY_WARMUP_PASSES):
        with run.tracer.span("session.first_job" if i == 0 else "workload.warmup"):
            dt, wall, rows = timed(lambda: replay_job(run.spark, root, inp).collect())
        warm_s.append(round(wall, 4))
        if i == 0:
            run.first_job_s = dt
        run.outcome(*check(f"warm-up {i}", rows))
    run.set_up("warmup", *sw.read())
    t_setup_end = time.perf_counter()
    with run.tracer.span("workload.replay"):
        durations = closed_loop(
            run, lambda i: replay_job(run.spark, root, inp).collect(), check
        )
    run.info.update(window_msgs=inp.window_msgs, kept_rows=inp.kept_rows,
                    ops=len(durations), measured_s=time.perf_counter() - t_setup_end,
                    warmup_wall_s=warm_s)
    run.probe = lambda: probes.replay(run, root, inp)
    return batch_metrics(run, inp.window_msgs, durations)


# -- produce ------------------------------------------------------------

def produce_check(root: str, inp: gen.ProduceInputs, full: bool):
    def check(i, topic):
        if not full:
            from rocketmq_flink_spark.sources import Broker

            broker = Broker(root)
            counts = [broker.latest_offset(topic, q) for q in range(gen.NUM_QUEUES)]
            ok = counts == inp.queue_counts.tolist()
        else:
            tbl, counts = read_topic(root, topic, ["keys", "tags", "props", "body"])
            region = pa.array(
                [m[0][1] if m else None for m in tbl.column("props").to_pylist()],
                pa.string(),
            )
            got = pa.table({
                "keys": tbl.column("keys"), "tags": tbl.column("tags"),
                "region": region, "body": tbl.column("body").cast(pa.string()),
            }).sort_by("body")
            ok = counts == inp.queue_counts.tolist() and got.equals(inp.expected)
        if ok and i != "probe":
            shutil.rmtree(os.path.join(root, topic))
        return ok, f"produce {i}: output topic differs"
    return check


def produce_job(df, root: str, topic: str) -> None:
    from rocketmq_flink_spark.functions.codec import encode_rows

    (
        encode_rows(df, gen.PRODUCE_OPTIONS).write.format("rocketmq")
        .option("path", root).option("topic", topic).mode("append").save()
    )


def run_produce(run: Run) -> dict:
    inp = run.generate(gen.produce_inputs, PRODUCE_ROWS)
    run.start_session()
    root = run.path("broker")
    with run.tracer.span("workload.cache_rows"):
        sw = Stopwatch()
        df = run.spark.createDataFrame(inp.rows).cache()
        df.count()
        run.set_up("lay", *sw.read())
    with run.tracer.span("session.first_job"):
        dt, wall, _ = timed(lambda: produce_job(df, root, "warmup"))
    run.set_up("warmup", wall, dt)
    full = produce_check(root, inp, full=True)
    run.outcome(*full("warm-up", "warmup"))
    fast = produce_check(root, inp, full=False)

    def op(i):
        produce_job(df, root, f"out{i}")
        return f"out{i}"

    def check(i, topic):
        # every op is checked per queue; every third op also row by row
        return (full if i % 3 == 0 else fast)(i, topic)

    t_setup_end = time.perf_counter()
    with run.tracer.span("workload.produce"):
        durations = closed_loop(run, op, check)
    run.info.update(rows=PRODUCE_ROWS, ops=len(durations),
                    measured_s=time.perf_counter() - t_setup_end)
    run.probe = lambda: probes.produce(run, root, df, inp)
    return batch_metrics(run, PRODUCE_ROWS, durations)


# -- curate -------------------------------------------------------------

def curate_job(spark, root: str, topic_in: str, topic_out: str) -> None:
    from pyspark.sql import functions as F

    from rocketmq_flink_spark.functions.codec import decode_envelope, encode_rows
    from rocketmq_flink_spark.operators.dedup import minhash_dedup
    from rocketmq_flink_spark.operators.text import quality_filter_flags

    env = spark.read.format("rocketmq").option("path", root).option("topic", topic_in).load()
    docs = decode_envelope(
        env, gen.CURATE_SCHEMA, {"headerFields": gen.CURATE_HEADERS}
    ).withColumn("text", F.col("text").cast("string")).cache()
    flags = quality_filter_flags(docs, "doc_id", "text")
    good = docs.join(flags.where(F.col("kept")).select("doc_id"), "doc_id")
    groups = minhash_dedup(good, "doc_id", "text")
    survivors = good.join(groups.where(~F.col("is_dup")).select("doc_id"), "doc_id")
    options = {"keyColumns": "doc_id", "isDynamicProperty": "true",
               "dynamicPropertyColumns": "src"}
    (
        encode_rows(survivors, options).write.format("rocketmq")
        .option("path", root).option("topic", topic_out).mode("append").save()
    )
    docs.unpersist()


def curate_check(root: str, inp: gen.CurateInputs):
    text_of = dict(zip(
        [int(k[1:]) for k in inp.table.column("keys").to_pylist()],
        inp.table.column("body").to_pylist(),
    ))

    def check(i, topic):
        tbl, _ = read_topic(root, topic, ["keys", "body"])
        ids = np.array(sorted(int(k) for k in tbl.column("keys").to_pylist()))
        ok = np.array_equal(ids, inp.expected_kept) and all(
            text_of.get(int(k)) == b
            for k, b in zip(tbl.column("keys").to_pylist(),
                            tbl.column("body").to_pylist())
        )
        if ok and i != "probe":
            shutil.rmtree(os.path.join(root, topic))
        return ok, f"curate {i}: kept documents differ"
    return check


def _doc_rounds(inp: gen.CurateInputs):
    per = -(-inp.n_docs // gen.NUM_QUEUES)
    return [[inp.table.slice(q * per, per) for q in range(gen.NUM_QUEUES)]]


def run_curate(run: Run) -> dict:
    inp = run.generate(gen.curate_inputs, CURATE_DOCS)
    warm = run.generate(gen.curate_inputs, CURATE_WARMUP_DOCS)
    run.start_session()
    root = lay_repeated(run, "docs", _doc_rounds(inp))
    lay_rounds(root, "warmup_docs", _doc_rounds(warm))
    check = curate_check(root, inp)
    with run.tracer.span("session.first_job"):
        dt, wall, _ = timed(lambda: curate_job(run.spark, root, "warmup_docs", "warmup"))
    run.set_up("warmup", wall, dt)
    run.outcome(*curate_check(root, warm)("warm-up", "warmup"))

    def op(i):
        curate_job(run.spark, root, "docs", f"kept{i}")
        return f"kept{i}"

    t_setup_end = time.perf_counter()
    with run.tracer.span("workload.curate"):
        durations = closed_loop(run, op, check, min_ops=1)
    run.info.update(docs=inp.n_docs, kept=len(inp.expected_kept),
                    ops=len(durations), measured_s=time.perf_counter() - t_setup_end)
    run.probe = lambda: probes.curate(run, root, inp)
    return batch_metrics(run, inp.n_docs, durations)


# -- live_tail ------------------------------------------------------------

def _progress_end(p: dict) -> float:
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return ts + p["durationMs"]["triggerExecution"] / 1000.0


def catchup_rates(progress: list[dict], warm_n: int, batch_rows: int) -> list[float]:
    """Messages per second of each catch-up micro-batch: the full batches
    that follow the warm-up ones, each its rows ÷ the time from the end
    of the batch before it to its own end."""
    ends = [_progress_end(p) for p in progress]
    rates = []
    for i in range(warm_n, len(progress)):
        if progress[i]["numInputRows"] != batch_rows:
            break
        rates.append(batch_rows / (ends[i] - ends[i - 1]))
    return rates


def _output_count(broker, topic: str) -> int:
    return sum(broker.latest_offset(topic, q) for q in range(gen.NUM_QUEUES))


def _wait(cond, timeout: float, poll: float = 0.05) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        time.sleep(poll)
    return cond()


def tail_query(spark, root: str, ckpt: str):
    from rocketmq_flink_spark.functions.codec import decode_envelope, encode_rows
    from rocketmq_flink_spark.streaming.ops import streaming_dedup

    stream = (
        spark.readStream.format("rocketmq")
        .option("path", root).option("topic", "tail_in")
        .option("maxOffsetsPerTrigger", str(TAIL_MAX_PER_TRIGGER))
        .load()
    )
    rows = decode_envelope(stream, gen.TAIL_SCHEMA, {"fieldDelimiter": "|"},
                           metadata_columns=["born_ts"])
    fresh = streaming_dedup(rows, ["key"], ts_col="born_ts",
                            max_out_of_orderness=TAIL_WATERMARK,
                            within_watermark=True)
    out = encode_rows(
        fresh, {"keyColumns": "key", "writeKeysToBody": "true", "fieldDelimiter": "|"},
        born_ts_col="born_ts",
    )
    return (
        out.writeStream.format("rocketmq")
        .option("path", root).option("topic", "tail_out")
        .option("checkpointLocation", ckpt)
        .start()
    )


def tail_outcome(expected: np.ndarray, output: np.ndarray) -> tuple[int, int]:
    """(lost, duplicated-or-unexpected) message counts: every distinct
    key sent must appear in the output exactly once."""
    uniq, counts = np.unique(output, return_counts=True)
    lost = len(np.setdiff1d(expected, uniq))
    dup = int((counts - 1).sum()) + len(np.setdiff1d(uniq, expected))
    return lost, dup


def run_live_tail(run: Run) -> dict:
    root = run.path("broker")
    go = run.path("go")
    phase_b = TAIL_PHASE_B_SHARE * run.seconds
    gen_cmd = [
        sys.executable, os.path.join(HERE, "tail_gen.py"),
        "--root", root, "--topic", "tail_in", "--seed", str(run.seed),
        "--backlog", str(gen.distinct_for_sent(TAIL_BACKLOG_SENT, TAIL_REDELIVER)),
        "--redeliver", str(TAIL_REDELIVER), "--segment-msgs", str(TAIL_SEGMENT_MSGS),
        "--rate", str(TAIL_RATE), "--duration", str(phase_b), "--go", go,
    ]
    generator = subprocess.Popen(gen_cmd, stdout=subprocess.PIPE, text=True)
    try:
        return _live_tail(run, root, go, generator)
    finally:
        if generator.poll() is None:
            generator.kill()
        generator.wait()


def _live_tail(run: Run, root: str, go: str, generator) -> dict:
    from rocketmq_flink_spark.sources import Broker

    run.start_session()
    sw = Stopwatch()
    ready = json.loads(generator.stdout.readline())
    run.set_up("lay", *sw.read())  # wait beyond session start
    backlog_distinct = gen.distinct_for_sent(TAIL_BACKLOG_SENT, TAIL_REDELIVER)
    broker = Broker(root)

    with run.tracer.span("session.first_job"):
        sw = Stopwatch()
        query = tail_query(run.spark, root, run.path("ckpt"))
        if not _wait(lambda: len(query.recentProgress) >= TAIL_WARMUP_BATCHES, 120):
            raise RuntimeError("warm-up micro-batches did not finish")
    run.set_up("warmup", *sw.read())
    warm = query.recentProgress[:TAIL_WARMUP_BATCHES]
    a_start = _progress_end(warm[-1])
    a_msgs = ready["sent"] - sum(p["numInputRows"] for p in warm)
    c_a = cpu_ticks()

    with run.tracer.span("workload.catchup"):
        drained = _wait(lambda: _output_count(broker, "tail_out") >= backlog_distinct, 60)
    c_b = cpu_ticks()
    t_go = time.time() + 0.02
    tmp = go + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(repr(t_go))
    os.rename(tmp, go)
    with run.tracer.span("workload.tail"):
        summary = json.loads(generator.stdout.readline())
        generator.wait()
        sched = np.load(go + ".schedule.npy")
        total = backlog_distinct + sched.shape[1]
        finished = _wait(lambda: _output_count(broker, "tail_out") >= total, 60)
    kept_a, kept_b = kept_share(c_a, c_b), kept_share(c_b, cpu_ticks())
    progress = list(query.recentProgress)
    query.stop()
    rates = catchup_rates(progress, TAIL_WARMUP_BATCHES, TAIL_MAX_PER_TRIGGER)
    if not rates:
        raise RuntimeError("no full catch-up micro-batch")

    # visibility = mtime of the output segment holding the message
    seqs, vis = [], []
    for q in range(gen.NUM_QUEUES):
        for _, _, path in broker.segments("tail_out", q):
            keys = pq.read_table(path, columns=["keys"]).column("keys").to_pylist()
            mtime = os.stat(path).st_mtime
            seqs.extend(int(k[1:]) for k in keys)
            vis.extend([mtime] * len(keys))
    seqs, vis = np.array(seqs, np.int64), np.array(vis)
    expected = np.concatenate([np.arange(backlog_distinct), sched[0].astype(np.int64)])
    lost, dup = tail_outcome(expected, seqs)
    run.outcome(drained and finished and lost == 0 and dup == 0,
                f"live_tail: {lost} lost, {dup} duplicated or unexpected, "
                f"drained={drained}, finished={finished}",
                n=len(expected), bad=lost + dup)

    in_backlog = seqs < backlog_distinct
    a_end = float(vis[in_backlog].max()) if in_backlog.any() else time.time()
    due = dict(zip(sched[0].astype(np.int64).tolist(), sched[1].tolist()))
    tail_sel = ~in_backlog
    lat = vis[tail_sel] - np.array([due.get(int(s), np.nan) for s in seqs[tail_sel]])
    lat = lat[np.isfinite(lat)]
    run.info.update(backlog_sent=ready["sent"], backlog_segments=ready["segments"],
                    catchup_msgs=a_msgs, catchup_wall_s=a_end - a_start,
                    catchup_wall_rates=[round(r, 1) for r in rates],
                    kept_share_catchup=kept_a, kept_share_tail=kept_b,
                    tail_wall_latency_p50_s=float(np.percentile(lat, 50)),
                    tail_msgs=int(len(lat)), tail_segments=summary["segments"],
                    gen_late_s_max=summary["late_s_max"],
                    batch_rows=[p["numInputRows"] for p in progress],
                    trigger_ms=[p["durationMs"]["triggerExecution"] for p in progress])
    run.layer["gen.late_s_max"] = summary["late_s_max"]
    run.probe = lambda: probes.live_tail(run, root, progress)
    # unstolen: a rate over a span is divided by the span's kept share,
    # a latency multiplied by it
    lat = lat * kept_b
    return {
        "msgs_per_s": float(np.median(rates)) / kept_a,
        "latency_p50_s": float(np.percentile(lat, 50)),
        "latency_p90_s": float(np.percentile(lat, 90)),
    }


# -- entry ---------------------------------------------------------------

WORKLOADS = {
    "replay": run_replay,
    "produce": run_produce,
    "live_tail": run_live_tail,
    "curate": run_curate,
}


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this process plus the driver JVM."""
    jvm = spark.sparkContext._jvm
    pids = [os.getpid(), int(jvm.java.lang.ProcessHandle.current().pid())]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    tracer = Tracer(bool(args.trace))
    run = Run(args, tracer)
    try:
        metrics = WORKLOADS[args.workload](run)
        setup_s = sum(run.setup_parts.values())
        metrics = {"setup_s": setup_s, **metrics,
                   "peak_rss_mb": peak_rss_mb(run.spark)}
        if args.trace:
            run.probe()
    finally:
        if run.spark is not None:
            run.spark.stop()
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "setup_parts_s": run.setup_parts,
                      "setup_parts_wall_s": run.setup_wall, **run.info}))
    if args.trace:
        run.layer["session.start_s"] = run.setup_parts["session"]
        run.layer["session.first_job_s"] = run.first_job_s or run.setup_parts["warmup"]
        out_dir = os.path.join(os.path.dirname(HERE), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        # The probes run after the timed phase, so tracing adds only the
        # recorder's own cost to traced_end_to_end; compare it with an
        # untraced run of the same seed for the measured overhead.
        print(json.dumps({
            "traced_end_to_end": metrics,
            "self_s": tracer.self_times(),
            "spans": len(tracer.spans),
            "tracing_overhead_s": Tracer.cost_per_span() * len(tracer.spans),
            "workload_layer_metrics": probes.specific_metrics(run),
        }))
        out = probes.per_layer_metrics(run)
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
