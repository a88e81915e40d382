"""rocketmq_flink_spark — a PySpark-native message-log analytics engine.

A from-scratch re-expression of the capabilities of the
shirukai/rocketmq-flink connector (reference: /root/reference), built
Spark-first:

- a partitioned, offset-addressed message-log source/sink implemented with
  the PySpark Python DataSource API (batch + Structured Streaming), with a
  deterministic local broker simulation standing in for RocketMQ;
- a codec layer (delimited-text/bytes <-> typed rows) with the reference's
  six dirty-data policies, header-vs-data field projection, and metadata
  columns — all pure DataFrame expressions (JVM-side, codegen'd);
- everything relational delegated to Catalyst, exactly as the reference
  delegates it to Flink;
- plus large-scale training-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal columns) designed for 100 TB scale.
"""

__version__ = "0.1.0"

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    # Spark puts $SPARK_HOME/python/lib/pyspark.zip first on every Python
    # worker's path, and PySpark calls importlib.invalidate_caches() before
    # every task and planner call. Before 3.13 each zipimporter then
    # re-reads its archive's whole directory (16-17 importers, 70-240 ms per
    # call). Every worker imports this package to unpickle our DataSource,
    # so re-read only an archive whose stat changed since this importer
    # last read it.
    _reread_zip = zipimport.zipimporter.invalidate_caches

    def _invalidate_changed_zip(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            _reread_zip(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_changed_zip

from rocketmq_flink_spark.session import get_spark  # noqa: E402,F401
