"""Custom operators the host engine lacks, composed from DataFrame ops.

Design rule for 100 TB scale: no driver-side collects, no per-row Python;
each operator documents its shuffle behavior in its docstring.
"""

from rocketmq_flink_spark.operators.joins import asof_join  # noqa: F401
