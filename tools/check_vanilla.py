"""Driver-style gate: run catalog queries + oracles under a VANILLA
SparkSession (no engine configs) — what the grading driver actually does.
Usage: python tools/check_vanilla.py [sf_dir] [name_substr ...]
Exits non-zero when any query mismatches or errors (CI-usable).
"""
import sys
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import __spark_entry__ as e
from rocketmq_flink_spark.plans.oracle import compare_frames, duck_connect
from rocketmq_flink_spark.session import _default_cores, _default_driver_memory

# sized as get_spark sizes it (the cores this process may use, half the
# machine's memory at most 48g); vanilla otherwise
spark = (SparkSession.builder.master(f"local[{_default_cores()}]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", _default_driver_memory())
         .getOrCreate())
args = sys.argv[1:]
sf = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
pats = args[1:] if args and os.path.isdir(args[0]) else args
q, o = e.queries(), e.oracle_sql()
con = duck_connect(sf)
fails = []
for name in q:
    if pats and not any(p in name for p in pats):
        continue
    try:
        sp = q[name](spark, sf).toPandas()
        du = con.execute(o[name]).df()
        r = compare_frames(name, sp, du)
        print(r, flush=True)
        if not r.ok:
            fails.append(name)
    except Exception as ex:
        print("[ERR ]", name, str(ex)[:200], flush=True)
        fails.append(name)
print("FAILS:", fails)
sys.exit(1 if fails else 0)
