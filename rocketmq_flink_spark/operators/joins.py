"""Join operator Spark lacks natively.

The reference itself has no joins (SURVEY.md §2.5) — this covers the
"as-of-style enrichment" its users get from the host engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_time: str,
    right_time: str,
    value_cols: list[str] | None = None,
    suffix: str = "",
) -> DataFrame:
    """Backward as-of join: for each left row, attach the value columns of
    the latest right row with right_time <= left_time, matched on `on`.

    Implementation: union the two sides tagged by origin, then a single
    `last(..., ignorenulls=True)` running window per key over a STRUCT of
    the value columns, ordered by (time, origin) so a right row at
    exactly left_time is visible (inclusive semantics, like DuckDB's
    ASOF JOIN with >=). The struct carry matters for NULL semantics: a
    right row whose value column is legitimately NULL still wins the
    as-of match (the struct itself is non-null), so the left row gets
    that NULL instead of a stale value from an older right row.

    Scale: ONE shuffle on the join keys, no per-key fan-out, no cross
    product, no driver state. At 100 TB this is the only as-of strategy
    that doesn't need range bucketing; skewed keys can be pre-salted by
    splitting left_time ranges if one key dominates.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in keys and c != right_time]
    out_vals = [f"{c}{suffix}" for c in value_cols]

    rstruct_t = T.StructType(
        [T.StructField(o, right.schema[c].dataType)
         for c, o in zip(value_cols, out_vals)]
    )
    lt = left.select(
        *left.columns,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(rstruct_t).alias("_rvals"),
    )
    rt = right.select(
        *keys,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.struct(
            *[F.col(c).alias(o) for c, o in zip(value_cols, out_vals)]
        ).cast(rstruct_t).alias("_rvals"),
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t"), F.col("_is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = unioned.withColumn(
        "_rlast", F.last(F.col("_rvals"), ignorenulls=True).over(w)
    )
    out = unioned.where(F.col("_is_left") == 1)
    for o in out_vals:
        out = out.withColumn(o, F.col("_rlast").getField(o))
    return out.drop("_t", "_is_left", "_rvals", "_rlast")

