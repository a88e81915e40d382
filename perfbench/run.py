#!/usr/bin/env python3
"""Connector benchmark: one run of one workload.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 12 --trace 0

Run from the repository root. Prepares the environment the package
needs (core count, a box-sized driver heap, PYTHONPATH for the Python
DataSource workers, private temp and Spark local dirs inside
`.perfbench_work/`), starts the workload in a fresh process group,
waits for every process of that group to end, removes the private
directories, and prints the workload's result as the last line of
standard output:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

Exits non-zero, printing no result, when the package is missing, the
workload fails to set up, or the run exceeds its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replay", "produce", "live_tail", "curate")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# leaves room to stop the process group (up to 20 s) within 180 s
TIME_LIMIT_S = 150


def _driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GB."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_gb = int(line.split()[1]) / 1024 / 1024
                return f"{max(1, min(4, int(total_gb / 4)))}g"
    return "2g"


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 5 (pgrp) follows the parenthesised command name
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; return
    once none is alive."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default=None,
                    help="Spark master override, e.g. local[1] for the "
                         "single-core reference")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rocketmq_flink_spark", "__init__.py")):
        print("perfbench: rocketmq_flink_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))  # nproc
    if args.workload == "live_tail":
        # the open-loop generator is a load thread of its own: give it a
        # core, so load threads stay <= nproc
        cores = max(1, cores - 1)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # one native thread per Python worker, so load threads stay <= nproc
        OMP_NUM_THREADS="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ]
    if args.master:
        cmd += ["--master", args.master]
    # a terminated runner still stops the group and removes `work`
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        try:
            out, _ = proc.communicate(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
            _stop_group(proc.pid)
            proc.communicate()
            return 1
    finally:
        _stop_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.rstrip("\n").split("\n")
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if proc.returncode != 0:
        print(f"perfbench: workload exited with code {proc.returncode}",
              file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("perfbench: workload printed no result", file=sys.stderr)
        return 1
    if set(result) != RESULT_KEYS:
        print(f"perfbench: malformed result keys {sorted(result)}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
