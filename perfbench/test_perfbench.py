"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q

- the generators are deterministic per seed;
- each correctness check rejects a corrupted output: one message
  dropped, one duplicated, one planted duplicate kept;
- the metric names the benchmark prints equal those in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import probes
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_generators_are_deterministic_per_seed():
    r1, r2, r3 = (gen.replay_inputs(s, 4_000) for s in (7, 7, 8))
    assert all(a.equals(b) for ra, rb in zip(r1.rounds, r2.rounds)
               for a, b in zip(ra, rb))
    assert r1.expected == r2.expected and r1.expected != r3.expected

    p1, p2, p3 = (gen.produce_inputs(s, 2_000) for s in (7, 7, 8))
    assert p1.rows.equals(p2.rows) and not p1.rows.equals(p3.rows)
    assert p1.expected.equals(p2.expected)

    c1, c2, c3 = (gen.curate_inputs(s, 300) for s in (7, 7, 8))
    assert c1.table.equals(c2.table) and not c1.table.equals(c3.table)
    assert np.array_equal(c1.expected_kept, c2.expected_kept)

    t1, t2, t3 = (gen.tail_messages(s, 100, 500, 0.05) for s in (7, 7, 8))
    assert np.array_equal(t1, t2) and not np.array_equal(t1, t3)


def test_replay_expected_matches_a_row_by_row_recount():
    inp = gen.replay_inputs(3, 4_000)
    counts: dict[str, list[int]] = {}
    for s, row in enumerate(inp.rounds):
        if s == 0:  # before the startTimeMs bound
            continue
        for tbl in row:
            for tag, props, body in zip(tbl.column("tags").to_pylist(),
                                        tbl.column("props").to_pylist(),
                                        tbl.column("body").to_pylist()):
                p = dict(props)
                if tag not in ("a", "b") or int(p["prio"]) < 4 or p["region"] == "eu":
                    continue
                f = body.decode().split("|")
                if len(f) != 4 or not f[2].isdigit():
                    continue
                c = counts.setdefault(f[3], [0, 0])
                c[0] += 1
                c[1] += int(f[2])
    assert {k: tuple(v) for k, v in counts.items()} == inp.expected
    assert inp.dirty_lines > 0


def test_replay_check_rejects_dropped_and_duplicated_message():
    inp = gen.replay_inputs(5, 4_000)
    check = workloads.replay_check(inp)
    rows = [{"cat": c, "n": n, "s": s} for c, (n, s) in inp.expected.items()]
    assert check(0, rows)[0]
    dropped = [dict(r) for r in rows]
    dropped[0]["n"] -= 1
    assert not check(0, dropped)[0]
    duplicated = [dict(r) for r in rows]
    duplicated[0]["n"] += 1
    assert not check(0, duplicated)[0]


def test_tail_outcome_counts_lost_and_duplicated_messages():
    expected = np.arange(100)
    assert workloads.tail_outcome(expected, expected) == (0, 0)
    assert workloads.tail_outcome(expected, expected[1:]) == (1, 0)
    assert workloads.tail_outcome(expected, np.append(expected, 42)) == (0, 1)
    # a redelivery that slipped past dedup is a duplicate too
    sent = gen.tail_messages(1, 0, 100, 0.2)
    assert len(sent) > 100
    assert workloads.tail_outcome(expected, sent)[1] == len(sent) - 100


def test_catchup_rates_cover_full_batches_after_warm_up():
    def batch(end_s: float, rows: int, took_ms: int = 500) -> dict:
        start = end_s - took_ms / 1000
        return {"timestamp": f"2026-01-01T00:00:{start:06.3f}Z", "numInputRows": rows,
                "durationMs": {"triggerExecution": took_ms}}

    progress = [batch(10, 8000), batch(12, 8000), batch(14, 8000), batch(18, 8000),
                batch(19, 300), batch(21, 8000)]
    assert workloads.catchup_rates(progress, 2, 8000) == [4000.0, 2000.0]
    assert workloads.catchup_rates(progress[:2], 2, 8000) == []


def test_unstolen_removes_the_stolen_share():
    assert workloads.kept_share((100, 5), (180, 25)) == 0.8
    assert workloads.unstolen(2.0, (100, 5), (180, 25)) == 1.6
    assert workloads.unstolen(2.0, (100, 5), (100, 5)) == 2.0


def _write_topic(root: str, topic: str, tbl: pa.Table) -> None:
    per = -(-tbl.num_rows // gen.NUM_QUEUES)
    for q in range(gen.NUM_QUEUES):
        part = tbl.slice(q * per, per)
        qdir = os.path.join(root, topic, f"queue-{q}")
        os.makedirs(qdir, exist_ok=True)
        if part.num_rows:
            pq.write_table(part, os.path.join(qdir, f"{0:020d}-{part.num_rows}.parquet"))


def test_curate_check_rejects_corrupted_outputs(tmp_path):
    inp = gen.curate_inputs(9, 400)
    root = str(tmp_path)
    check = workloads.curate_check(root, inp)
    msgs = inp.table
    ids = np.array([int(k[1:]) for k in msgs.column("keys").to_pylist()])
    kept = msgs.filter(pa.array(np.isin(ids, inp.expected_kept)))
    out = pa.table({"keys": pa.array([k[1:] for k in kept.column("keys").to_pylist()]),
                    "body": kept.column("body")})

    _write_topic(root, "ok", out)
    assert check("probe", "ok")[0]
    _write_topic(root, "dropped", out.slice(1))
    assert not check("probe", "dropped")[0]
    _write_topic(root, "duplicated", pa.concat_tables([out, out.slice(0, 1)]))
    assert not check("probe", "duplicated")[0]
    # a planted duplicate that was kept: a doc id outside the survivors
    # whose text equals its family's survivor
    dup_ids = np.setdiff1d(ids, inp.expected_kept)
    text_of = dict(zip(ids.tolist(), msgs.column("body").to_pylist()))
    planted = next(i for i in dup_ids if text_of[int(i)] in set(out.column("body").to_pylist()))
    extra = pa.table({"keys": [str(planted)], "body": pa.array([text_of[int(planted)]], pa.binary())})
    _write_topic(root, "planted", pa.concat_tables([out, extra]))
    assert not check("probe", "planted")[0]


def test_produce_check_rejects_dropped_and_duplicated_message(tmp_path):
    inp = gen.produce_inputs(4, 1_000)
    root = str(tmp_path)
    exp = inp.expected
    queue = np.array(gen.queue_of(exp.column("keys").to_pylist()))
    props = pa.array([[("region", r)] for r in exp.column("region").to_pylist()],
                     gen.SEGMENT_ARROW.field("props").type)
    msgs = pa.table({"keys": exp.column("keys"), "tags": exp.column("tags"),
                     "props": props, "body": exp.column("body").cast(pa.binary())})

    def write(topic, tbl, qs):
        for q in range(gen.NUM_QUEUES):
            part = tbl.filter(pa.array(qs == q))
            qdir = os.path.join(root, topic, f"queue-{q}")
            os.makedirs(qdir, exist_ok=True)
            pq.write_table(part, os.path.join(qdir, f"{0:020d}-{part.num_rows}.parquet"))

    check = workloads.produce_check(root, inp, full=True)
    write("ok", msgs, queue)
    assert check("probe", "ok")[0]
    write("dropped", msgs.slice(1), queue[1:])
    assert not check("probe", "dropped")[0]
    write("duplicated", pa.concat_tables([msgs, msgs.slice(0, 1)]),
          np.append(queue, queue[0]))
    assert not check("probe", "duplicated")[0]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(workloads.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == list(probes.COMMON)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == probes.COMMON
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)

