"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over rocketmq_flink_spark.plans.catalog — the query registry
holds one entry per implemented capability from SURVEY.md §2 plus the
north-star operators, each with a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rocketmq_flink_spark.plans.catalog import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full sink-encode -> source-decode round trip over
    the events table at sf0.001, then a relational aggregation."""
    return REGISTRY["codec_roundtrip_agg"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }
