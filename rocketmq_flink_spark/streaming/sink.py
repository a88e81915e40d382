"""foreachBatch sink variant (SURVEY.md §2.1 S7 / §2.6 W9).

The direct path is `df.writeStream.format("rocketmq")`; foreachBatch is
the variant for pipelines whose output isn't append-only (update-mode
aggregations) or that need the codec applied per epoch. Parity:
- flush-on-checkpoint (RocketMQSink.java:189-203) -> per-epoch batch
  write; the broker's epoch marker makes retried epochs idempotent. An
  epoch is keyed like a `format("rocketmq")` stream's: the checkpoint
  location plus the batch id, so two such queries writing one topic
  never take each other's epochs as done.
- changelog rowkind filter (RocketMQRowDataConverter.java:168-171, P6):
  Spark update-mode output carries no UPDATE_BEFORE rows, so the filter
  is structurally a no-op here — the semantic P6 preserves (never emit
  retractions to the message log) holds by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rocketmq_flink_spark.functions.codec import encode_rows
from rocketmq_flink_spark.sources.datasource import _epoch_key


def write_stream_foreach_batch(
    df: DataFrame,
    options: dict,
    checkpoint_location: str,
    trigger: dict | None = None,
    query_name: str = "rocketmq_sink",
):
    """Start a streaming query that encodes each microbatch and writes it
    to the message log, committed once per epoch.

    `df` holds typed rows; `options` is the combined codec + sink option
    surface (topic, path, keyColumns, dynamic tag/property routing, ...).
    Returns the StreamingQuery.
    """
    opts = dict(options)
    ckpt = {"checkpointLocation": checkpoint_location}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        env = encode_rows(batch_df, options=opts)
        sink_opts = {
            k: v
            for k, v in opts.items()
            if k.lower() in {"path", "topic", "numqueues"}
        }
        (
            env.write.format("rocketmq")
            .mode("append")
            .options(_epoch=_epoch_key(ckpt, batch_id), **sink_opts)
            .save()
        )

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_location)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
