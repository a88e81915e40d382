"""The query catalog: every implemented capability as (spark fn, oracle SQL).

Each Spark query is written so its result is BIT-EXACTLY reproducible by
the DuckDB oracle:

- money arithmetic goes through DECIMAL casts (the fixture's doubles carry
  exactly 2 decimal places, so DECIMAL(12,2) casts are lossless and sums
  are exact/associative in both engines);
- double division results are rounded explicitly;
- every ranking/limit has a total-order tie-break;
- integer sums are CAST(... AS BIGINT) in DuckDB (its SUM yields HUGEINT,
  which pandas would render as float).

The relational surface itself is Catalyst's (SURVEY.md §2.5) — these
queries exercise it the way the reference's host engine (Flink SQL) would
be exercised by its users, plus the codec/message-log semantics that ARE
the reference's own logic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rocketmq_flink_spark.operators.lineage import cut
from rocketmq_flink_spark.session import load_tables


def _cut_big(df: DataFrame) -> DataFrame:
    """Lineage cut for a frame whose materialized size grows with
    the input corpus (operators/lineage.py: honors the
    SPARK_GRAFT_CUT_BIG_LEVEL storage-level knob)."""
    return cut(df, big=True)

FD = "\x01"


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Fixed per-(tag, SF) scratch path for queries that stage a parquet
    re-layout: reused across invocations (writers use mode=overwrite) so
    repeated bench/sweep runs never accumulate mkdtemp litter. On a real
    cluster this would point at a shared staging filesystem."""
    import os
    import tempfile

    leaf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    root = os.path.join(
        tempfile.gettempdir(), f"rocketmq_scratch_{tag}_{leaf}"
    )
    os.makedirs(root, exist_ok=True)
    return root


def _dec2(col, p=12):
    return col.cast(T.DecimalType(p, 2))


# ---------------------------------------------------------------------------
# Message-log / codec semantics (the reference's OWN logic: SURVEY.md
# §2.2-§2.4 — serde, header projection, property filter, metadata,
# dirty-data policies, queue allocation)
# ---------------------------------------------------------------------------


def _events_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["events"]


@query(
    "codec_roundtrip_agg",
    """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
)
def codec_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full connector round trip: typed rows -> sink encoder (keys +
    dynamic property routing, D11/R5) -> source decoder (delimited parse +
    header projection, D1/D3/P3) -> relational agg. The oracle sees only
    the original table: a hash match proves losslessness."""
    from rocketmq_flink_spark.functions import decode_envelope, encode_rows

    ev = _events_typed(spark, sf_dir).select(
        "event_id", "user_id", "value", "ts", "event_type"
    )
    env = encode_rows(
        ev,
        options={
            "topic": "events",
            "keyColumns": "event_id",
            "writeKeysToBody": "true",
            "isDynamicProperty": "true",
            "dynamicPropertyColumns": "event_type",
        },
        born_ts_col="ts",
    )
    decoded = decode_envelope(
        env,
        "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP, event_type STRING",
        options={"headerFields": "event_type"},
    )
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "header_fields_projection",
    """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def header_fields_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-header-fields layout (D1 layout 2): every declared column comes
    from the user-property bag; body is ignored."""
    from rocketmq_flink_spark.functions import decode_envelope

    ev = _events_typed(spark, sf_dir)
    env = ev.select(
        F.from_json(
            F.col("props"), T.MapType(T.StringType(), T.StringType())
        ).alias("props"),
        F.encode(F.lit(""), "UTF-8").alias("value"),
        F.col("event_type").alias("_et"),
    ).withColumn(
        "props",
        F.map_concat(
            F.col("props"),
            F.create_map(F.lit("event_type"), F.col("_et")),
        ),
    )
    decoded = decode_envelope(
        env,
        "event_type STRING, k INT",
        options={"headerFields": "event_type,k"},
    )
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
    )


@query(
    "sql92_property_filter",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) BETWEEN 10 AND 50
    GROUP BY event_type
    """,
)
def sql92_property_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL92 property-filter semantics (P2): predicate over the
    user-property map, evaluated by Catalyst (the reference evaluates it
    broker-side; same visible result)."""
    ev = _events_typed(spark, sf_dir)
    props = F.from_json(F.col("props"), T.MapType(T.StringType(), T.StringType()))
    k = props.getItem("k").cast(T.IntegerType())
    return (
        ev.withColumn("k", k)
        .where(F.col("k").between(10, 50))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "queue_offsets_metadata",
    """
    WITH q AS (
      SELECT user_id % 8 AS queue_id,
             ROW_NUMBER() OVER (PARTITION BY user_id % 8 ORDER BY event_id) - 1 AS off,
             event_id
      FROM events
    )
    SELECT queue_id, COUNT(*) AS n, MAX(off) AS max_offset,
           MIN(event_id) AS first_event, MAX(event_id) AS last_event
    FROM q GROUP BY queue_id
    """,
)
def queue_offsets_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue allocation + per-queue monotone offsets (R6/S5 analog):
    partition = hash(key) % numQueues, offset = arrival order within the
    queue. Metadata columns are then queryable like any other column."""
    from pyspark.sql import Window as W

    ev = _events_typed(spark, sf_dir)
    w = W.partitionBy("queue_id").orderBy("event_id")
    return (
        ev.select("event_id", (F.col("user_id") % 8).alias("queue_id"))
        .withColumn("off", F.row_number().over(w) - 1)
        .groupBy("queue_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("off").alias("max_offset"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


def _dirty_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically corrupted bodies over the events table:
    event_id % 13 == 0 -> value field unparseable ('xx');
    event_id % 17 == 0 -> last field missing (truncated body)."""
    ev = _events_typed(spark, sf_dir)
    full = F.concat_ws(
        FD,
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("value").cast("string"),
    )
    corrupt_val = F.concat_ws(
        FD, F.col("event_id").cast("string"), F.col("user_id").cast("string"),
        F.lit("xx"),
    )
    truncated = F.concat_ws(
        FD, F.col("event_id").cast("string"), F.col("user_id").cast("string")
    )
    body = (
        F.when(F.col("event_id") % 17 == 0, truncated)
        .when(F.col("event_id") % 13 == 0, corrupt_val)
        .otherwise(full)
    )
    return ev.select(F.encode(body, "UTF-8").alias("value"))


@query(
    "dirty_data_skip",
    """
    SELECT COUNT(*) AS n_rows,
      CAST(SUM(user_id) AS BIGINT) AS sum_user,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_id % 13 != 0 AND event_id % 17 != 0
    """,
)
def dirty_data_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lengthCheck=SKIP (D2): rows with missing fields or unparseable
    values are dropped; the oracle replays the policy in SQL."""
    from rocketmq_flink_spark.functions import decode_envelope

    decoded = decode_envelope(
        _dirty_envelope(spark, sf_dir),
        "event_id BIGINT, user_id BIGINT, value DOUBLE",
        options={"lengthCheck": "SKIP"},
    )
    return decoded.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("sum_user"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
    )


@query(
    "dirty_data_pad",
    """
    SELECT COUNT(*) AS n_rows,
      CAST(SUM(user_id) AS BIGINT) AS sum_user,
      CAST(SUM(CASE WHEN event_id % 13 = 0 OR event_id % 17 = 0 THEN NULL
                    ELSE CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_value,
      COUNT(CASE WHEN event_id % 13 = 0 OR event_id % 17 = 0 THEN 1 END) AS n_null_value
    FROM events
    """,
)
def dirty_data_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lengthCheck=PAD (D2): missing fields null-padded, unparseable
    fields nulled, extra fields cut — every row survives."""
    from rocketmq_flink_spark.functions import decode_envelope

    decoded = decode_envelope(
        _dirty_envelope(spark, sf_dir),
        "event_id BIGINT, user_id BIGINT, value DOUBLE",
        options={"lengthCheck": "PAD"},
    )
    return decoded.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("sum_user"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
    )


@query(
    "asof_purchase_after_click",
    """
    SELECT p.event_id,
           c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment (SURVEY §2.5): each purchase joined to the user's
    latest preceding click. Spark-side: union + running-window operator
    (operators.joins.asof_join) — one shuffle, no range fan-out."""
    from rocketmq_flink_spark.operators import asof_join

    ev = _events_typed(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="click_ts",
        value_cols=["click_id", "click_ts"],
    )
    return joined.select(
        "event_id",
        "click_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "lag_us"
        ),
    )


@query(
    "interval_join_purchase_clicks",
    """
    SELECT p.event_id AS purchase_id,
           COUNT(c.event_id) AS n_clicks,
           MIN(c.event_id) AS first_click_id,
           MAX(c.event_id) AS last_click_id
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    GROUP BY p.event_id
    """,
)
def interval_join_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time INTERVAL join (SURVEY §2.5, the batch view of the
    stream-stream interval join proven in
    tests/test_streaming.py::test_stream_stream_interval_join): each
    purchase joined to the same user's clicks within the preceding 30
    minutes, aggregated per purchase.

    Scale shape: the range predicate rides on a plain user-key
    equi-join — one hash shuffle per side, range filter applied inside
    the join, then a map-side-combinable groupBy on the purchase id. In
    streaming form the same predicate bounds state retention (watermark
    + interval), which is why the reference treats it as a first-class
    windowed-join capability."""
    ev = _events_typed(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .groupBy("purchase_id")
        .agg(
            F.count("click_id").alias("n_clicks"),
            F.min("click_id").alias("first_click_id"),
            F.max("click_id").alias("last_click_id"),
        )
    )


@query(
    "sessionization_gap30m",
    """
    WITH x AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1
                         ELSE 0 END) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM x GROUP BY user_id
    """,
)
def sessionization_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold (batch analog of
    session_window W11). One shuffle on user_id."""
    from pyspark.sql import Window as W

    ev = _events_typed(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.col("prev_ts").cast("long")
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ts").isNull() | (gap > 30 * 60), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(
            F.sum("is_new").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "broker_source_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events GROUP BY event_type
    """,
)
def broker_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full connector slice S1-S14: typed rows -> sink encoder ->
    broker write (queue routing, offset assignment, epoch commit) ->
    batch source read (partition discovery, offset ranges, Arrow
    batches) -> decoder -> relational agg. Oracle sees only the original
    table; a hash match proves the whole path is lossless."""
    import tempfile

    from rocketmq_flink_spark.functions import decode_envelope, encode_rows
    from rocketmq_flink_spark.sources import register

    register(spark)
    root = tempfile.mkdtemp(prefix="rocketmq_broker_")
    ev = _events_typed(spark, sf_dir).select("event_id", "user_id", "value", "ts",
                                             "event_type")
    env = encode_rows(
        ev,
        options={
            "topic": "events_rt",
            "keyColumns": "event_id",
            "writeKeysToBody": "true",
            "isDynamicTag": "true",
            "dynamicTagColumn": "event_type",
        },
        born_ts_col="ts",
    )
    (
        env.write.format("rocketmq")
        .option("path", root)
        .option("topic", "events_rt")
        .option("numQueues", "8")
        .mode("append")
        .save()
    )
    envelope = (
        spark.read.format("rocketmq")
        .option("path", root)
        .option("topic", "events_rt")
        .load()
    )
    decoded = decode_envelope(
        envelope,
        "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP",
        metadata_columns=["tags"],
    )
    return (
        decoded.groupBy(F.col("tags").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
            F.sum("event_id").alias("sum_id"),
        )
    )


@query(
    "bounded_window_scan",
    """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE event_id % 2 = 1 GROUP BY event_type
    """,
)
def bounded_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded broker scan — the S6/S14/W6/S10 anchor. Events are
    committed in TWO epochs (even event_ids, then odd); the read then
    positions every queue with `startingOffsets=timestamp:<ms>` AND
    bounds it with `endingTimestamp` chosen to bracket exactly the
    second commit's store timestamp. Timestamp resolution follows the
    reference's searchOffset semantics (store time, not born time:
    `RocketMQSourceFunction.java:330-365`,
    `RocketMQPartitionSplitReader.java:190-199`), so the bounded read
    must return precisely the odd-id batch — which the oracle selects
    relationally. The `ENDINGTIMESTAMP` option is deliberately
    mis-cased to pin S10 option case-normalization
    (`RocketMQDynamicTableSourceFactory.java:66-215`)."""
    import tempfile
    import time as _time

    from rocketmq_flink_spark.functions import decode_envelope, encode_rows
    from rocketmq_flink_spark.sources import register

    register(spark)
    root = tempfile.mkdtemp(prefix="rocketmq_bounded_")
    ev = _events_typed(spark, sf_dir).select(
        "event_id", "user_id", "value", "ts", "event_type"
    )

    def _write(batch):
        env = encode_rows(
            batch,
            options={
                "topic": "events_tw",
                "keyColumns": "event_id",
                "writeKeysToBody": "true",
                "isDynamicTag": "true",
                "dynamicTagColumn": "event_type",
            },
            born_ts_col="ts",
        )
        (
            env.write.format("rocketmq")
            .option("path", root)
            .option("topic", "events_tw")
            .option("numQueues", "4")
            .mode("append")
            .save()
        )

    _write(ev.where(F.col("event_id") % 2 == 0))
    _time.sleep(0.02)  # distinct store_ts for the second epoch
    _write(ev.where(F.col("event_id") % 2 == 1))
    stamps = sorted(
        r["store_ts"]
        for r in (
            spark.read.format("rocketmq")
            .option("path", root)
            .option("topic", "events_tw")
            .load()
            .select(F.unix_micros("store_ts").alias("store_ts"))
            .distinct()
            .collect()
        )
    )
    assert len(stamps) == 2, f"expected two commit stamps, got {stamps}"
    assert stamps[1] // 1000 > stamps[0] // 1000, stamps
    cut_ms = stamps[1] // 1000  # > epoch-1 stamp, <= epoch-2 stamp
    envelope = (
        spark.read.format("rocketmq")
        .option("path", root)
        .option("topic", "events_tw")
        .option("startingOffsets", f"timestamp:{cut_ms}")
        .option("ENDINGTIMESTAMP", str(cut_ms))  # case-norm pin (S10)
        .load()
    )
    decoded = decode_envelope(
        envelope,
        "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP",
        metadata_columns=["tags"],
    )
    return decoded.groupBy(F.col("tags").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
        F.sum("event_id").alias("sum_id"),
    )


# ---------------------------------------------------------------------------
# North-star operators (BASELINE.json: dedup / similarity search /
# multimodal / text analysis — designed for 100 TB)
# ---------------------------------------------------------------------------

_NORM_SQL_DUCK = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

_SHINGLES_DUCK = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(arr) - 4, 1) + 1),
           i -> array_to_string(arr[i:i+4], ' ')))) AS sh
  FROM (SELECT doc_id, regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
        FROM documents)
"""


@query(
    "dedup_exact_docs",
    f"""
    SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
    FROM documents
    GROUP BY {_NORM_SQL_DUCK}
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text with deterministic representative
    (min id). One shuffle on the normalized key."""
    from rocketmq_flink_spark.operators.dedup import exact_dedup, normalize_text

    docs = load_tables(spark, sf_dir)["documents"]
    return exact_dedup(docs, "doc_id", normalize_text(F.col("text"))).select(
        "rep_id", "n_dups"
    )


@query(
    "ngram_jaccard_dedup",
    f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
    shr AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shr GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
             AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-shingle Jaccard near-dup pairs, rare-shingle blocked
    (doc-freq cap stops O(d^2) blowup on hot shingles at scale)."""
    from rocketmq_flink_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.5)


@query(
    "prefix_filter_jaccard",
    f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
             AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
          >= 0.5
    """,
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS prefix-filtered Jaccard join (PPJoin-family): candidates
    come only from each doc's n - ceil(t*n) + 1 globally-rarest
    shingles, yet the output provably equals brute-force all-pairs
    Jaccard — which is exactly what the oracle computes, so the hash
    match IS the losslessness proof (contrast ngram_jaccard_dedup's
    doc-frequency cap, a recall heuristic replayed by its oracle)."""
    from rocketmq_flink_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    return prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", k=5, threshold=0.5
    )


def _minhash_cand_ctes() -> str:
    """The MinHash candidate-generation pipeline as a reusable CTE
    chain ending in `cand (id_a, id_b, sa, sb)` — banded LSH collision
    pairs with their signatures. Shared by the dedup-groups /
    leakage-split oracles (which extend it with the closure) and the
    LSH tuning-report oracle (which consumes the raw candidates)."""
    from rocketmq_flink_spark.functions.porthash import (
        hash31_sql,
        minhash_coeffs,
    )

    coeffs = minhash_coeffs(64)
    a_lit = "[" + ", ".join(str(a) for a, _ in coeffs) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in coeffs) + "]"
    return f"""sh AS ({_SHINGLES_DUCK}),
    hx AS (SELECT doc_id, {hash31_sql('sh')} AS x FROM sh),
    ab AS (SELECT j, CAST(({a_lit})[j+1] AS BIGINT) AS a,
                  CAST(({b_lit})[j+1] AS BIGINT) AS b
           FROM (SELECT unnest(range(64)) AS j)),
    minh AS (
      SELECT doc_id, j, MIN((a * x + b) % 2147483647) AS mh
      FROM hx CROSS JOIN ab GROUP BY doc_id, j
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY j) AS sig FROM minh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, sig, bs.bb AS band,
             array_to_string(sig[bs.bb*4+1 : bs.bb*4+4], ',') AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(16)) AS bb) bs
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                      x.sig AS sa, y.sig AS sb
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    )"""


def _minhash_rep_ctes() -> str:
    """The MinHash pipeline as a reusable recursive-CTE chain ending in
    `rep (doc_id, m)` — min reachable id per doc over the LSH pair
    graph. Shared by the dedup-groups oracle and the leakage-safe-split
    oracle (must appear inside a WITH RECURSIVE)."""
    return f"""{_minhash_cand_ctes()},
    pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE CAST(list_sum(list_transform(list_zip(sa, sb),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
            / 64.0 >= 0.7
    ),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    rep AS (SELECT s AS doc_id, MIN(d) AS m FROM reach GROUP BY s)"""


def _minhash_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE MinHash pipeline: portable 60-bit md5
    base hash -> universal-family signatures -> banded LSH candidates ->
    estimator threshold -> transitive closure (recursive CTE). The same
    (a_j, b_j) literals are inlined here and in the Spark plan."""
    return f"""
    WITH RECURSIVE {_minhash_rep_ctes()}
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(r.m, d.doc_id)) AS rep_id,
           LEAST(d.doc_id, COALESCE(r.m, d.doc_id)) <> d.doc_id AS is_dup
    FROM documents d LEFT JOIN rep r ON r.doc_id = d.doc_id
    """


@query("minhash_dedup_groups", _minhash_oracle_sql())
def minhash_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64, portable universal family) + LSH(16 bands) near-dup
    groups with TRANSITIVE closure (connected components by min-label
    propagation). Fully hash-checked: the DuckDB oracle replays the
    identical hash family, banding, estimator and closure."""
    from rocketmq_flink_spark.operators.dedup import minhash_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    return minhash_dedup(docs, "doc_id", "text", threshold=0.7).orderBy("doc_id")


def _lsh_tuning_oracle_sql(bins: int = 10, rows_per: int = 4,
                           bands: int = 16) -> str:
    """DuckDB replay of the LSH tuning report: blocked exact-Jaccard
    pairs binned by INTEGER ratio, left-joined against the banded
    MinHash candidates (shared _minhash_cand_ctes chain), plus the
    analytic capture curve via the same multiplication-chain text the
    Spark side runs."""
    from rocketmq_flink_spark.operators.dedup import pow_chain_sql

    s_mid = f"(CAST(2 * sim_bin + 1 AS DOUBLE) / {2 * bins})"
    theory = (
        f"round(1.0 - "
        f"{pow_chain_sql(f'(1.0 - {pow_chain_sql(s_mid, rows_per)})', bands)}"
        f", 6)"
    )
    return f"""
    WITH {_minhash_cand_ctes()},
    rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
    shr AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shr GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT id_a, id_b, n_inter,
             sa.n_sh + sb.n_sh - n_inter AS n_union
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    ),
    binned AS (
      SELECT LEAST(CAST((e.n_inter * {bins}) // e.n_union AS BIGINT),
                   {bins - 1}) AS sim_bin,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS cap
      FROM exact e
      LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b
    )
    SELECT sim_bin, COUNT(*) AS n_pairs,
           CAST(SUM(cap) AS BIGINT) AS n_captured,
           ROUND(CAST(SUM(cap) AS BIGINT) / COUNT(*), 6) AS recall,
           {theory} AS theory_capture
    FROM binned
    GROUP BY sim_bin
    ORDER BY sim_bin
    """


@query("lsh_tuning_report", _lsh_tuning_oracle_sql())
def lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter-tuning: the empirical capture s-curve of the
    16-band/4-row MinHash banding measured against exact blocked
    Jaccard ground truth, per similarity bin, next to the analytic
    1-(1-s^4)^16 midpoint value — the tuning table that justifies a
    (bands, rows) choice BEFORE a 100 TB dedup run. Bins are exact
    integer ratios; the analytic curve is an explicit multiplication
    chain (no libm pow), so the whole report hash-matches. Scale notes:
    operators/dedup.py lsh_capture_report."""
    from rocketmq_flink_spark.operators.dedup import lsh_capture_report

    docs = load_tables(spark, sf_dir)["documents"]
    return lsh_capture_report(docs, "doc_id", "text").orderBy("sim_bin")


def _simhash_oracle_sql() -> str:
    """DuckDB replay of the portable 60-bit SimHash + BRUTE-FORCE pair
    scan. The Spark side uses pigeonhole-exact banding, which by
    construction returns exactly the brute-force result — so an oracle
    match simultaneously proves the fingerprints AND the banding's
    completeness."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    return f"""
    WITH tk AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    th AS (SELECT doc_id, {hash60_sql('tok')} AS h FROM tk),
    bits AS (
      SELECT doc_id, j,
             CAST(SUM((h >> j) & 1) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS j)
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN 2*s > n THEN (1::BIGINT << j)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """


@query("simhash_near_pairs", _simhash_oracle_sql())
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit portable) near-pairs with pigeonhole-exact
    block-pair indexing (C(8,2)=28 14-bit keys for max_hamming=6 —
    Manku-style multi-table). Hash-checked: the DuckDB oracle recomputes
    the fingerprints from the same md5 hash family and brute-forces all
    pairs — a match proves the index loses nothing."""
    from rocketmq_flink_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    fps = simhash_fingerprints(docs, "doc_id", "text")
    return simhash_near_pairs(fps, "doc_id", max_hamming=6).orderBy("id_a", "id_b")


@query(
    "knn_exact_topk",
    """
    WITH q AS (SELECT vec_id AS qid, list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS qv
               FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS cv
               FROM embeddings),
    scored AS (
      SELECT qid, vec_id,
             CAST(ROUND(list_sum(list_transform(list_zip(qv, cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE) AS dist2
      FROM q, c WHERE vec_id != qid
    )
    SELECT qid, vec_id, dist2, rank FROM (
      SELECT qid, vec_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def knn_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact kNN (top-5, L2) for 8 query vectors. Distances
    computed in DECIMAL so ranks are bit-identical across engines. One
    corpus pass, queries broadcast, no corpus shuffle."""
    from rocketmq_flink_spark.operators.similarity import knn_bruteforce

    emb = load_tables(spark, sf_dir)["embeddings"]
    return knn_bruteforce(emb.where(F.col("vec_id") < 8), emb, k=5)


# Planted-ground-truth harness for the approximate-NN queries: three
# perturbed copies of each query vector (coord 0 + m/1000, m=1..3) are
# injected into the corpus; their distances (1e-6, 4e-6, 9e-6) are
# orders of magnitude below any natural neighbor, so the TRUE top-3 is
# exactly the planted set — DuckDB brute-forces it, and the approximate
# Spark operator must achieve 100% recall on it to hash-match. This is
# the strongest oracle an ANN operator admits: it proves the index
# actually finds what it is designed to find (near-identical vectors),
# not merely that it runs.
_ANN_PLANTED_DUCK = """
    planted AS (
      SELECT e.vec_id + 10000 * ms.m AS vec_id,
             list_prepend(
               CAST(e.embedding[1] + CAST(0.001 * ms.m AS FLOAT) AS FLOAT),
               e.embedding[2:]) AS embedding
      FROM embeddings e CROSS JOIN (SELECT unnest([1, 2, 3]) AS m) ms
      WHERE e.vec_id < 8
    ),
    corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM planted
    ),
    q AS (SELECT vec_id AS qid,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS qv
          FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS cv
          FROM corpus),
    scored AS (
      SELECT qid, vec_id,
             CAST(ROUND(list_sum(list_transform(list_zip(qv, cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE) AS dist2
      FROM q, c WHERE vec_id != qid
    ),
    truth AS (
      SELECT qid, vec_id, dist2, rank FROM (
        SELECT qid, vec_id, dist2,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, vec_id)
                 AS rank
        FROM scored
      ) WHERE rank <= 3
    )
"""


def _ann_planted_corpus(spark: SparkSession, sf_dir: str):
    """Spark twin of the planted-corpus CTE: (queries, corpus)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") < 8)
    parts = [emb.select("vec_id", "embedding")]
    for m in (1, 2, 3):
        parts.append(
            q.select(
                (F.col("vec_id") + 10000 * m).alias("vec_id"),
                F.expr(
                    f"concat(array(CAST(embedding[0] + CAST({0.001 * m}"
                    " AS FLOAT) AS FLOAT)),"
                    " slice(embedding, 2, size(embedding) - 1))"
                ).alias("embedding"),
            )
        )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.union(p)
    return q, corpus


@query(
    "ann_topk_lsh",
    f"WITH {_ANN_PLANTED_DUCK} SELECT qid, vec_id, dist2, rank FROM truth",
)
def ann_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets, verified
    against planted ground truth: the true top-3 are planted
    micro-perturbations, which land in the query's LSH buckets with
    near-certainty — a hash match proves the index finds them all and
    ranks them with exact decimal distances."""
    from rocketmq_flink_spark.operators.similarity import ann_topk_lsh

    q, corpus = _ann_planted_corpus(spark, sf_dir)
    return ann_topk_lsh(q, corpus, k=3).orderBy("qid", "rank")


@query(
    "embedding_near_dups",
    """
    WITH planted AS (
      SELECT vec_id + 10000 AS vec_id,
             list_prepend(CAST(embedding[1] + CAST(0.001 AS FLOAT) AS FLOAT),
                          embedding[2:]) AS embedding
      FROM embeddings WHERE vec_id < 10
    ),
    corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM planted
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(ROUND(list_sum(list_transform(
                    list_zip(list_transform(CAST(a.embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))),
                             list_transform(CAST(b.embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))),
                    p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE) AS dist2
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, dist2 FROM pairs WHERE dist2 <= 0.01
    """,
)
def embedding_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs over a corpus with 10 planted
    perturbed copies. Spark side uses LSH-bucketed candidates + exact
    decimal distance; the oracle brute-forces all pairs — a match proves
    the LSH recall is complete on this corpus."""
    from rocketmq_flink_spark.operators.similarity import embedding_near_dups

    emb = load_tables(spark, sf_dir)["embeddings"]
    planted = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "concat(array(CAST(embedding[0] + CAST(0.001 AS FLOAT) AS FLOAT)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").union(planted)
    return embedding_near_dups(corpus, max_dist2=0.01)


@query(
    "text_quality_by_lang",
    """
    WITH per_doc AS (
      SELECT lang,
        len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        length(regexp_replace(text, '[^\\s]', '', 'g')) AS n_space
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      ROUND(CAST(SUM(n_alpha) AS DOUBLE) / SUM(n_chars), 6) AS alpha_ratio,
      ROUND(CAST(SUM(n_chars) - SUM(n_space) AS DOUBLE) / SUM(n_tok), 6)
        AS mean_token_len
    FROM per_doc GROUP BY lang
    """,
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring aggregated per language. Ratios are computed
    from exact integer sums (one double division at the end) so the
    result is order-independent and oracle-exact."""
    from rocketmq_flink_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir)["documents"]
    n_chars = F.length(F.col("text"))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    n_space = F.length(F.regexp_replace(F.col("text"), r"[^\s]", ""))
    per = docs.select(
        "lang",
        token_count("text").alias("n_tok"),
        n_chars.alias("n_chars"),
        n_alpha.alias("n_alpha"),
        n_space.alias("n_space"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.sum("n_alpha").cast("double") / F.sum("n_chars"), 6).alias(
            "alpha_ratio"
        ),
        F.round(
            (F.sum("n_chars") - F.sum("n_space")).cast("double") / F.sum("n_tok"), 6
        ).alias("mean_token_len"),
    )


def _stopword_duck(words):
    in_list = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        f" t -> t IN ({in_list})))"
    )


def _lang_id_oracle():
    from rocketmq_flink_spark.operators.text import STOPWORDS

    scores = ",\n        ".join(
        f"{_stopword_duck(w)} AS s_{lang}" for lang, w in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
    WITH scored AS (
      SELECT lang, {scores}
      FROM documents
    ), best AS (
      SELECT lang, greatest({all_scores}) AS m, {all_scores} FROM scored
    )
    SELECT lang, {pred} AS pred_lang, COUNT(*) AS n
    FROM best GROUP BY 1, 2
    """


@query("lang_id_confusion", None)  # oracle attached below (generated SQL)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-hit argmax, ties to declaration
    order) cross-tabulated against the labeled lang column. The fixture
    text is synthetic word-salad, so the confusion matrix is the
    deliverable — the oracle checks the heuristic computes identically,
    not that it recovers the label."""
    from rocketmq_flink_spark.operators.text import lang_id

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        lang_id(docs, "text")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


REGISTRY["lang_id_confusion"].oracle = _lang_id_oracle()


@query(
    "fingerprint_docs",
    f"""
    WITH fp AS (SELECT source, md5({_NORM_SQL_DUCK}) AS f FROM documents)
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT f) AS n_unique,
           MIN(f) AS min_fp
    FROM fp GROUP BY source
    """,
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 over normalized text) per source."""
    from rocketmq_flink_spark.operators.text import fingerprint

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("source", fingerprint("text").alias("f"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("f")).alias("n_unique"),
            F.min("f").alias("min_fp"),
        )
    )


@query(
    "token_stats_by_source",
    """
    WITH t AS (
      SELECT source,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens
    FROM t GROUP BY source
    """,
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over the corpus, aggregated per source."""
    from rocketmq_flink_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("source", token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


@query(
    "multimodal_features",
    """
    SELECT source, COUNT(*) AS n,
      CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      CAST(SUM(CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT)) AS BIGINT)
        AS total_chunks,
      MIN(ascii(substr(text, 1, 1))) AS min_head,
      MAX(ascii(substr(text, 1, 1))) AS max_head
    FROM documents GROUP BY source
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents as opaque binary payloads ->
    Arrow-batched mapInPandas feature extraction (deterministic fake
    decoder; real codecs slot into decode_media) -> per-source agg. The
    oracle recomputes the same features from SQL byte functions."""
    from rocketmq_flink_spark.operators.multimodal import (
        attach_media,
        extract_features,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    media = attach_media(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "text/plain",
    )
    feats = extract_features(media)
    src = docs.select(F.col("doc_id").alias("media_id"), "source")
    return (
        feats.join(F.broadcast(src), "media_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("byte_len").alias("total_bytes"),
            F.sum("n_chunks").alias("total_chunks"),
            F.min("head_byte").alias("min_head"),
            F.max("head_byte").alias("max_head"),
        )
    )


@query(
    "media_header_features",
    """
    WITH p AS (
      SELECT doc_id,
             doc_id % 3 AS m,
             doc_id % 31 + 1 AS w,
             doc_id % 17 + 1 AS h,
             8000 + (doc_id % 5) * 1000 AS rate,
             (doc_id // 2) % 2 + 1 AS ch,
             100 + doc_id % 50 AS frames
      FROM documents)
    SELECT doc_id AS media_id,
      CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'ppm' END AS fmt,
      CASE WHEN m <> 1 THEN CAST(w AS INT) END AS width,
      CASE WHEN m <> 1 THEN CAST(h AS INT) END AS height,
      CASE WHEN m = 1 THEN CAST(rate AS INT) END AS sample_rate,
      CASE WHEN m = 1 THEN CAST(ch AS INT) END AS n_channels,
      CASE WHEN m = 1 THEN CAST(frames * 1000 // rate AS BIGINT) END
        AS duration_ms,
      CAST(CASE m
        WHEN 0 THEN 54 + ((w * 3 + 3) // 4) * 4 * h
        WHEN 1 THEN 44 + frames * ch * 2
        ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
             + 3 * w * h
      END AS BIGINT) AS byte_len
    FROM p
    """,
)
def media_header_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-header decode (not the fake): synthesize genuine
    BMP/WAV/PPM bytes per doc_id (deterministic parameter formulas),
    then parse the genuine headers with the stdlib struct parsers in one
    Arrow mapInPandas hop. The oracle PREDICTS every parsed field from
    the id formulas without touching bytes — so encoder and parser are
    verified against each other end to end. Binary stays executor-side.
    """
    from rocketmq_flink_spark.operators.multimodal import (
        media_header_features as decode,
        synth_container_payloads,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    return decode(synth_container_payloads(docs, "doc_id"))


@query(
    "compressed_media_features",
    """
    WITH ids AS (SELECT doc_id AS media_id FROM documents
                 WHERE doc_id < 36),
    png AS (SELECT media_id, 16 + (media_id % 5) * 4 AS w,
                   12 + (media_id % 3) * 4 AS h
            FROM ids WHERE media_id % 2 = 0),
    px AS (
      SELECT p.media_id, p.w, p.h, y.g AS y, x.g AS x,
             (p.media_id * 7 + y.g * 3 + x.g * 5) % 256 AS r,
             (p.media_id * 7 + y.g * 3 + x.g * 5 + 11) % 256 AS g2,
             (p.media_id * 7 + y.g * 3 + x.g * 5 + 22) % 256 AS b
      FROM png p, range(40) y(g), range(40) x(g)
      WHERE y.g < p.h AND x.g < p.w),
    pstats AS (
      SELECT media_id,
             CAST(SUM(r) AS BIGINT) AS sum_r,
             CAST(SUM(g2) AS BIGINT) AS sum_g,
             CAST(SUM(b) AS BIGINT) AS sum_b,
             CAST(CEIL(MAX(w) / 2.0) AS INT) AS rs_width,
             CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 THEN r END)
                  AS BIGINT) AS rs_sum_r
      FROM px GROUP BY media_id),
    jpg AS (SELECT media_id, 320 + (media_id % 7) * 16 AS w,
                   240 + (media_id % 5) * 16 AS h
            FROM ids WHERE media_id % 2 = 1),
    jstats AS (
      SELECT j.media_id,
             CAST(SUM(64 * ((j.media_id * 7 + by.g * 3 + bx.g * 5) % 256))
                  AS BIGINT) AS sumy
      FROM jpg j, range(52) by(g), range(52) bx(g)
      WHERE by.g < j.h // 8 AND bx.g < j.w // 8
      GROUP BY 1)
    SELECT i.media_id,
           CASE WHEN i.media_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           CAST(COALESCE(p.w, j.w) AS INT) AS width,
           CAST(COALESCE(p.h, j.h) AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           COALESCE(s.sum_r, js.sumy) AS sum_r,
           COALESCE(s.sum_g, js.sumy) AS sum_g,
           COALESCE(s.sum_b, js.sumy) AS sum_b,
           s.rs_width, s.rs_sum_r
    FROM ids i LEFT JOIN png p USING (media_id)
               LEFT JOIN jpg j USING (media_id)
               LEFT JOIN pstats s USING (media_id)
               LEFT JOIN jstats js USING (media_id)
    ORDER BY i.media_id
    """,
)
def compressed_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-image formats, end to end with the stdlib: even ids
    carry REAL PNGs (round 5) — genuine zlib-deflated IDAT with all
    five scanline filters exercised — fully decoded (inflate +
    unfilter), nearest-neighbor-resized through a real re-encode, and
    reduced to exact integer channel sums; odd ids carry REAL JPEGs
    spanning the ENTIRE round-7 codec surface (round 8, VERDICT r7
    item 1 — encode_jpeg_pattern_v2): the 18 odd ids cycle mode
    ((id-1)//2) % 8 through baseline 4:4:4 / 4:2:0+DRI / 4:2:2 /
    4:4:0 / 4:1:1 / progressive 4:4:4 / progressive 4:2:0+DRI /
    lossless SOF3, so every sampling layout, both scan types, the
    RSTn walk + DC-prediction resets, AND the Annex H DPCM path are
    all inside this one witnessed query. Headers are parsed by the
    real marker walk and pixels fully decoded (Huffman entropy
    decode + dequantize + IDCT + chroma upsample + color conversion;
    spectral-selection/successive-approximation reassembly for
    progressive; predictor DPCM for lossless). Block-constant luma
    with neutral chroma and unit quant is exact under ALL these
    layouts, so ONE oracle formula certifies all eight modes. The PNG
    pixel pattern ((7*id+3y+5x+11c) mod 256) and the JPEG 8x8-block-
    constant luma pattern ((7*id+3*by+5*bx) mod 256, neutral chroma,
    unit quant — exactly one integer DCT coefficient per block, so the
    lossy pipeline is exact) let the oracle regenerate every sum with
    range() arithmetic — certifying BOTH codecs bit-for-bit with zero
    image libraries. JPEG resize columns stay NULL: decode->re-encode
    resize is lossy for JPEG, so no exact oracle exists for it.
    Progressive JPEG / MP3 / video stay behind the codec registry
    (operators/multimodal.py). Scale: synthesis, header parse and
    pixel decode are one Arrow hop each; payloads never leave the
    executors."""
    from rocketmq_flink_spark.operators.multimodal import (
        decode_jpeg_pixels,
        decode_png_pixels,
        encode_jpeg_pattern_v2,
        encode_png_pattern,
        parse_media_header,
        resize_png,
    )
    from rocketmq_flink_spark.session import spread_for_compute

    # the per-row codec CPU (PNG deflate/inflate + JPEG Huffman/DCT,
    # ~1.3 s across the 36 ids) otherwise runs in the documents scan's
    # ONE task (single-row-group fixture) — the spread_for_compute win
    # case; interleaved 7-rep A/B at sf0.01: 1.98/2.19 vs 2.40/2.48 s
    ids = spread_for_compute(
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id") < 36)
        .select(F.col("doc_id").alias("media_id"))
    )

    # Fused single Arrow hop (optimization r08, guide §4): the previous
    # plan fed one synth mapInPandas into TWO decoder hops
    # (media_header_features + media_pixel_features) and joined them —
    # every payload was ENCODED twice (once per consumer subtree),
    # crossed the Arrow boundary twice, and paid a 36-row join. Here
    # each id is encoded once, header-parsed once and pixel-decoded
    # once, and the payload never crosses Arrow at all. The header
    # fields come from the same parse_media_header marker walk and the
    # pixel sums from the same decode_*_pixels/resize_png calls the two
    # operators make, so every emitted value is bit-identical.
    def synth_features(batches):
        import numpy as np
        import pandas as pd_local

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"].astype("int64"):
                mid = int(mid)
                if mid % 2 == 0:
                    payload = encode_png_pattern(
                        mid, 16 + (mid % 5) * 4, 12 + (mid % 3) * 4
                    )
                    px = decode_png_pixels(payload).astype(np.int64)
                    rs = decode_png_pixels(
                        resize_png(payload, 2)
                    ).astype(np.int64)
                    rs_width, rs_sum_r = rs.shape[1], int(rs[:, :, 0].sum())
                else:
                    payload = encode_jpeg_pattern_v2(
                        mid, 320 + (mid % 7) * 16, 240 + (mid % 5) * 16,
                        mode=((mid - 1) // 2) % 8,
                    )
                    px = decode_jpeg_pixels(payload).astype(np.int64)
                    # lossy re-encode resize has no exact oracle: NULL
                    rs_width, rs_sum_r = None, None
                h = parse_media_header(payload)
                rows.append({
                    "media_id": mid,
                    "fmt": h["fmt"],
                    "width": h["width"],
                    "height": h["height"],
                    "n_channels": h["n_channels"],
                    "sum_r": int(px[:, :, 0].sum()),
                    "sum_g": int(px[:, :, 1].sum()),
                    "sum_b": int(px[:, :, 2].sum()),
                    "rs_width": rs_width,
                    "rs_sum_r": rs_sum_r,
                })
            if not rows:
                continue
            out = pd_local.DataFrame(rows)
            for c, dt in (
                ("width", "Int32"), ("height", "Int32"),
                ("n_channels", "Int32"), ("rs_width", "Int32"),
                ("rs_sum_r", "Int64"),
            ):
                out[c] = pd_local.array(out[c], dtype=dt)
            yield out

    return ids.mapInPandas(
        synth_features,
        "media_id bigint, fmt string, width int, height int,"
        " n_channels int, sum_r bigint, sum_g bigint, sum_b bigint,"
        " rs_width int, rs_sum_r bigint",
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# Event-time windows + delay levels (SURVEY.md §2.6 W11 / §2.4 R8) — the
# batch-mode view of the streaming helpers; streaming parity is asserted
# in tests/test_streaming.py.
# ---------------------------------------------------------------------------


@query(
    "tumbling_window_events",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (W11). Same helper the
    streaming path uses; map-side partial agg keeps the shuffle at one
    row per (window, type, partition)."""
    from rocketmq_flink_spark.streaming.ops import tumbling_window_agg

    ev = _events_typed(spark, sf_dir)
    out = tumbling_window_agg(
        ev, "ts", "1 hour", ["event_type"],
        {"n": F.count(F.lit(1)),
         "sum_value": F.sum(_dec2(F.col("value"))).cast("double")},
    )
    return out.select(F.col("window.start").alias("ws"), "event_type", "n",
                      "sum_value")


@query(
    "sliding_window_events",
    """
    WITH w AS (
      SELECT event_type, value,
             unnest(list_value(time_bucket(INTERVAL 30 MINUTE, ts),
                    time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE))
               AS ws
      FROM events
    )
    SELECT ws, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/30-minute windows (W11): every event lands in
    exactly two windows (oracle expands them explicitly)."""
    from rocketmq_flink_spark.streaming.ops import sliding_window_agg

    ev = _events_typed(spark, sf_dir)
    out = sliding_window_agg(
        ev, "ts", "1 hour", "30 minutes", ["event_type"],
        {"n": F.count(F.lit(1)),
         "sum_value": F.sum(_dec2(F.col("value"))).cast("double")},
    )
    return out.select(F.col("window.start").alias("ws"), "event_type", "n",
                      "sum_value")


@query(
    "delay_level_visibility",
    """
    WITH d AS (
      SELECT event_id % 19 AS delay_level,
             ts + to_seconds(list_value(0,1,5,10,30,60,120,180,240,300,360,
                  420,480,540,600,1200,1800,3600,7200)[(event_id % 19) + 1])
               AS deliver_ts
      FROM events
    )
    SELECT delay_level, COUNT(*) AS n_visible
    FROM d WHERE deliver_ts <= TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY delay_level
    """,
)
def delay_level_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message delay levels (R8): each event gets delay level
    event_id % 19; the consumer view at a fixed as-of excludes messages
    still in the delay queue."""
    from rocketmq_flink_spark.streaming.ops import filter_deliverable

    ev = _events_typed(spark, sf_dir).withColumn(
        "delay_level", (F.col("event_id") % 19).cast("int")
    )
    vis = filter_deliverable(
        ev,
        F.to_timestamp(F.lit("2024-01-15 00:00:00")),
        born_ts="ts",
        delay_level="delay_level",
    )
    return vis.groupBy("delay_level").agg(F.count(F.lit(1)).alias("n_visible"))


# ---------------------------------------------------------------------------
# Round 1 additions: cosine kNN, topic-selector routing (R1-R3),
# fixed-width binary codec (D4), simple key-value schema (D7-D9)
# ---------------------------------------------------------------------------


@query(
    "knn_cosine_topk",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS ve
               FROM embeddings),
    q AS (SELECT vec_id AS qid, ve AS qv,
                 CAST(ROUND(list_sum(list_transform(ve, x -> x*x)), 12) AS DOUBLE) AS qn2
          FROM v WHERE vec_id < 8),
    c AS (SELECT vec_id, ve AS cv,
                 CAST(ROUND(list_sum(list_transform(ve, x -> x*x)), 12) AS DOUBLE) AS cn2
          FROM v),
    scored AS (
      SELECT qid, vec_id,
             CAST(ROUND(list_sum(list_transform(list_zip(qv, cv),
                  p -> p[1]*p[2])), 12) AS DOUBLE) / (sqrt(qn2) * sqrt(cn2))
               AS cos_sim
      FROM q, c WHERE vec_id != qid
    )
    SELECT qid, vec_id, ROUND(cos_sim, 9) AS cos_sim, rank FROM (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id)
               AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 8 query vectors: decimal-exact dot/norms,
    IEEE-double sqrt/divide — deterministic ranks across engines."""
    from rocketmq_flink_spark.operators.similarity import knn_cosine

    emb = load_tables(spark, sf_dir)["embeddings"]
    out = knn_cosine(emb.where(F.col("vec_id") < 8), emb, k=5)
    return out.withColumn("cos_sim", F.round(F.col("cos_sim"), 9))


@query(
    "topic_routing_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def topic_routing_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopicSelector surface (R1-R3): rows routed per-record to
    topic_<event_type> by a SimpleTopicSelector expression, multi-topic
    sink write, then two topics read back independently and re-agged.
    The oracle sees only the original table — a match proves routing is
    lossless and exhaustive."""
    import tempfile

    from rocketmq_flink_spark.functions.codec import decode_envelope, encode_rows
    from rocketmq_flink_spark.functions.selectors import simple_topic_selector
    from rocketmq_flink_spark.sources.datasource import register

    register(spark)
    root = tempfile.mkdtemp(prefix="broker_route_")
    ev = (
        load_tables(spark, sf_dir)["events"]
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "event_type")
        .withColumn("route", F.concat(F.lit("topic_"), F.col("event_type")))
    )
    env = encode_rows(
        ev.select("event_id", "event_type", "route"),
        options={"keyColumns": "event_id", "writeKeysToBody": "true"},
        topic_col=simple_topic_selector("route", "topic_other"),
    )
    # `route` rides along in the body; drop it at decode by declaring it
    env.write.format("rocketmq").options(
        path=root, topic="topic_other", numQueues=4
    ).mode("append").save()

    schema = "event_id BIGINT, event_type STRING, route STRING"
    parts = []
    for t in ("topic_click", "topic_purchase"):
        raw = spark.read.format("rocketmq").options(path=root, topic=t).load()
        parts.append(decode_envelope(raw, schema))
    both = parts[0].unionByName(parts[1])
    return both.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id")
    )


@query(
    "binary_codec_roundtrip",
    """
    SELECT user_id, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE user_id < 50 GROUP BY user_id
    """,
)
def binary_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width big-endian binary codec (D4, ByteSerializer/ByteUtils
    parity): typed rows -> packed binary bodies -> decode -> agg. One
    Arrow-batched mapInPandas pass each way (numpy buffer reshape, no
    per-row Python). Oracle sees only the original table."""
    from rocketmq_flink_spark.functions.binary import (
        decode_fixed_width,
        encode_fixed_width,
    )

    layout = [
        ("event_id", "bigint"),
        ("user_id", "bigint"),
        ("value", "double"),
        ("ts", "timestamp"),
    ]
    ev = (
        load_tables(spark, sf_dir)["events"]
        .where(F.col("user_id") < 50)
        .select("event_id", "user_id", "value", "ts")
    )
    packed = encode_fixed_width(ev, layout)
    decoded = decode_fixed_width(packed, layout)
    return decoded.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
        F.sum("event_id").alias("sum_id"),
    )


@query(
    "simple_key_value_roundtrip",
    """
    SELECT CAST(doc_id AS VARCHAR) AS key, text AS value
    FROM documents WHERE doc_id < 100
    """,
)
def simple_key_value_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple key/value schema (D7-D9): (key, value) strings -> envelope
    -> back; serialize∘deserialize = identity (the reference's
    SimpleKeyValueSerializationSchemaTest)."""
    from rocketmq_flink_spark.functions.codec import (
        decode_simple_key_value,
        encode_simple_key_value,
    )

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").cast("string").alias("key"),
            F.col("text").alias("value"),
        )
    )
    return decode_simple_key_value(encode_simple_key_value(docs))


@query(
    "stateful_sessionization",
    """
    WITH x AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1
                      ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    ), agg AS (
      SELECT user_id AS key, sid,
             epoch_us(MIN(ts)) AS session_start_us,
             epoch_us(MAX(ts)) AS session_end_us,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid
    )
    SELECT key, session_start_us, session_end_us, n_events
    FROM agg
    WHERE session_end_us // 1000 + 30*60*1000
          < (SELECT epoch_us(max(ts)) // 1000 FROM events)
    """,
)
def stateful_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (W12): applyInPandasWithState
    session aggregator with event-time timeouts, driven end-to-end as a
    real streaming query (file source, watermark 0s, availableNow). The
    oracle is lag-based SQL sessionization restricted to sessions the
    final watermark closed — per-row state semantics proven against a
    set-based formulation."""
    import uuid

    from rocketmq_flink_spark.streaming.stateful import sessionize_with_state

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The fixture has shipped ts as both INT64 nanos and TIMESTAMP(MICROS,
    # ntz); probe the footer with a batch read and stream with whichever
    # raw type the file actually has, converting to an instant after.
    import os as _os

    ts_raw = spark.read.parquet(
        _os.path.join(sf_dir, "events.parquet")
    ).schema["ts"].dataType
    nanos = isinstance(ts_raw, T.LongType)
    raw_schema = (
        "event_id BIGINT, ts "
        + ("BIGINT" if nanos else "TIMESTAMP_NTZ")
        + ", user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_instant = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if nanos
        else F.col("ts").cast("timestamp")
    )
    typed = stream.select(
        "user_id", ts_instant.alias("ts")
    ).withWatermark("ts", "0 seconds")
    sess = sessionize_with_state(typed, "user_id", "ts", "30 minutes")
    qname = f"sessions_{uuid.uuid4().hex[:8]}"
    # state-store partition count follows shuffle partitions at query
    # start; a default-200 session pays ~200 state dirs for a local run —
    # pin a sane count for the duration of this query, then restore
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            sess.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname)


@query(
    "dirty_data_cut",
    """
    SELECT COUNT(*) AS n_rows,
      CAST(SUM(user_id) AS BIGINT) AS sum_user,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    """,
)
def dirty_data_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extra-field CUT strategy (D2 default, lengthCheck=NONE presets
    SKIP/SKIP/CUT): every body carries one trailing junk field beyond
    the declared schema; CUT truncates it and every row decodes
    cleanly — the oracle never sees the junk."""
    from rocketmq_flink_spark.functions import decode_envelope

    ev = _events_typed(spark, sf_dir)
    body = F.concat_ws(
        FD,
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("value").cast("string"),
        F.lit("junk-extra-field"),
    )
    env = ev.select(F.encode(body, "UTF-8").alias("value"))
    decoded = decode_envelope(
        env, "event_id BIGINT, user_id BIGINT, value DOUBLE", options={}
    )
    return decoded.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("sum_user"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
    )


@query(
    "tag_filter_scan",
    """
    SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def tag_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broker-side tag filter (P1): messages tagged by event_type at
    write, scan subscribes 'click || view' — the filter runs inside the
    source's read() before rows reach Spark, like consumer.pull(mq, tag)
    (RocketMQPartitionSplitReader.java:161-163)."""
    import tempfile

    from rocketmq_flink_spark.functions import decode_envelope, encode_rows
    from rocketmq_flink_spark.sources.datasource import register

    register(spark)
    root = tempfile.mkdtemp(prefix="broker_tag_")
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type"
    )
    env = encode_rows(
        ev,
        options={
            "keyColumns": "event_id",
            "writeKeysToBody": "true",
            "isDynamicTag": "true",
            "dynamicTagColumn": "event_type",
            "dynamicTagColumnWriteIncluded": "true",
        },
    )
    env.write.format("rocketmq").options(
        path=root, topic="tagged", numQueues=4
    ).mode("append").save()
    raw = (
        spark.read.format("rocketmq")
        .options(path=root, topic="tagged", tag="click || view")
        .load()
    )
    decoded = decode_envelope(raw, "event_id BIGINT, event_type STRING")
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id")
    )


def _lloyd_step_sql(
    prev: str, idx: int, allv: str = "allv", dim: int = 64, tag: str = ""
) -> str:
    """One DuckDB Lloyd iteration over the `{allv}` CTE: argmin-assign
    to `prev` centroids, per-(cid, dim) mean update, carry empty cells.
    Shared by every oracle that retrains a k-means index in SQL
    (IVF recall replay, cluster profile, per-subspace PQ codebooks —
    `tag` namespaces the CTEs so several trainings chain in one WITH)."""
    return f"""
    assign{tag}{idx} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(c.cv, x -> x*x))
                 - 2 * list_sum(list_transform(list_zip(e.v, c.cv),
                                               z -> z[1]*z[2])),
                 c.cid) AS rn
        FROM {allv} e CROSS JOIN {prev} c)
      WHERE rn = 1),
    sums{tag}{idx} AS (
      SELECT cid, z[2] AS d, SUM(z[1]) AS sx FROM (
        SELECT a.cid, unnest(list_zip(e.v, range(0, {dim}))) AS z
        FROM assign{tag}{idx} a JOIN {allv} e USING (vec_id))
      GROUP BY cid, z[2]),
    counts{tag}{idx} AS (SELECT cid, COUNT(*) AS cnt
                         FROM assign{tag}{idx} GROUP BY cid),
    means{tag}{idx} AS (
      SELECT s.cid, list(s.sx / n.cnt ORDER BY s.d) AS cv
      FROM sums{tag}{idx} s JOIN counts{tag}{idx} n USING (cid)
      GROUP BY s.cid),
    cents{tag}{idx} AS (
      SELECT c0.cid, COALESCE(m.cv, c0.cv) AS cv
      FROM cents{tag}{idx - 1} c0 LEFT JOIN means{tag}{idx} m USING (cid))"""


def _pq_ctes_sql(m: int = 8, d: int = 8, k: int = 16,
                 shortlist: int = 50) -> str:
    """The PQ retrieval pipeline as a reusable CTE chain (expects an
    `allv (vec_id, v)` CTE in scope): m per-subspace k-means codebooks
    retrained from scratch (portable-hash seeded init + 2 Lloyd
    iterations each, via the shared tagged CTE generator), corpus
    encoding by argmin, exact-DECIMAL ADC lookup-table scoring, ADC
    shortlist, full-precision decimal re-rank into `pq_rer (qid,
    vec_id, dist2)`. Shared by the standalone PQ oracle and the
    unified ANN recall report."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(vec_id AS VARCHAR)")
    parts = []
    for s in range(m):
        lo, hi = s * d + 1, s * d + d
        parts.append(f"""
    sub{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM allv),
    centsS{s}0 AS (
      SELECT cid, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cid,
               v AS cv
        FROM sub{s})
      WHERE cid < {k}),
    {_lloyd_step_sql(f'centsS{s}0', 1, allv=f'sub{s}', dim=d, tag=f'S{s}')},
    {_lloyd_step_sql(f'centsS{s}1', 2, allv=f'sub{s}', dim=d, tag=f'S{s}')},
    codes{s} AS (
      SELECT vec_id, {s} AS s, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(c.cv, x -> x*x))
                 - 2 * list_sum(list_transform(list_zip(e.v, c.cv),
                                               z -> z[1]*z[2])),
                 c.cid) AS rn
        FROM sub{s} e CROSS JOIN centsS{s}2 c)
      WHERE rn = 1)""")
    codes_union = "\n      UNION ALL ".join(
        f"SELECT * FROM codes{s}" for s in range(m)
    )
    cents_union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, cid, cv FROM centsS{s}2" for s in range(m)
    )
    dec_q = "list_transform(CAST(q.v[c.s*%d+1 : c.s*%d+%d] AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))" % (d, d, d)
    dec_c = "list_transform(CAST(c.cv AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))"
    dec_full = (
        "CAST(ROUND(list_sum(list_transform(list_zip("
        "list_transform(CAST(q.v AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))), "
        "list_transform(CAST(e.v AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE)"
    )
    return f"""
    {','.join(parts)},
    codes AS ({codes_union}),
    centsall AS ({cents_union}),
    lut AS (
      SELECT q.vec_id AS qid, c.s, c.cid,
             list_sum(list_transform(list_zip({dec_q}, {dec_c}),
                                     p -> (p[1]-p[2])*(p[1]-p[2]))) AS dd
      FROM allv q CROSS JOIN centsall c WHERE q.vec_id < 8),
    adc AS (
      SELECT l.qid, o.vec_id,
             CAST(ROUND(SUM(l.dd), 12) AS DOUBLE) AS adc_d2
      FROM codes o JOIN lut l ON l.s = o.s AND l.cid = o.cid
      WHERE o.vec_id <> l.qid
      GROUP BY l.qid, o.vec_id),
    short AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_d2, vec_id) AS rn
        FROM adc)
      WHERE rn <= {shortlist}),
    pq_rer AS (
      SELECT s.qid, s.vec_id, {dec_full} AS dist2
      FROM short s
      JOIN allv e ON e.vec_id = s.vec_id
      JOIN allv q ON q.vec_id = s.qid)"""


def _ann_recall_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE approximate-NN retrieval pipelines on
    the natural corpus — not just the exact truth: the 16 LSH hyperplanes
    are inlined as literals and every sign-bit/band is recomputed in SQL,
    and the IVF index is retrained from scratch (portable-hash seeded
    init + two full Lloyd iterations + probe) in chained CTEs. recall@5
    is then an arithmetic consequence. This makes the recall REPORT
    itself hash-checked, not merely the planted-recall property."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql
    from rocketmq_flink_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 16, 42)
    plane_rows = ",\n        ".join(
        f"({p}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for p, row in enumerate(planes)
    )
    h = hash60_sql("CAST(vec_id AS VARCHAR)")
    dec_dist = (
        "CAST(ROUND(list_sum(list_transform(list_zip("
        "list_transform(CAST(qv AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))), "
        "list_transform(CAST(cv AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE)"
    )

    lloyd_step = _lloyd_step_sql

    return f"""
    WITH allv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    -- ======== exact truth: brute-force decimal top-5 ========
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT q.vec_id AS qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(ROUND(list_sum(list_transform(
                   list_zip(list_transform(CAST(q.v AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))),
                            list_transform(CAST(c.v AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE),
                 c.vec_id) AS rank
        FROM allv q CROSS JOIN allv c
        WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
      WHERE rank <= 5),
    -- ======== LSH replay: inlined hyperplanes -> sign bits -> bands ====
    planes(pid, pv) AS (VALUES
        {plane_rows}),
    bits AS (
      SELECT vec_id, pid,
             CASE WHEN list_sum(list_transform(list_zip(v, pv),
                    z -> z[1]*z[2])) >= 0 THEN 1 ELSE 0 END AS b
      FROM allv CROSS JOIN planes),
    bands AS (
      SELECT vec_id, pid // 4 AS band_idx,
             CAST(SUM(b << (3 - (pid % 4))) AS BIGINT) AS band_val
      FROM bits GROUP BY vec_id, pid // 4),
    lsh_topk AS (
      SELECT qid, vec_id FROM (
        SELECT t.qid, t.vec_id,
               ROW_NUMBER() OVER (PARTITION BY t.qid ORDER BY
                 {dec_dist.replace('qv', 'q.v').replace('cv', 'c.v')},
                 t.vec_id) AS rank
        FROM (SELECT DISTINCT qb.vec_id AS qid, cb.vec_id
              FROM bands qb
              JOIN bands cb ON qb.band_idx = cb.band_idx
                           AND qb.band_val = cb.band_val
              WHERE qb.vec_id < 8 AND cb.vec_id <> qb.vec_id) t
        JOIN allv q ON q.vec_id = t.qid
        JOIN allv c ON c.vec_id = t.vec_id)
      WHERE rank <= 5),
    -- ======== multi-probe LSH: query bands + all 1-bit flips ========
    qprobes AS (
      SELECT vec_id, band_idx,
             unnest([band_val, xor(band_val, 1), xor(band_val, 2),
                     xor(band_val, 4), xor(band_val, 8)]) AS band_val
      FROM bands WHERE vec_id < 8),
    lshmp_topk AS (
      SELECT qid, vec_id FROM (
        SELECT t.qid, t.vec_id,
               ROW_NUMBER() OVER (PARTITION BY t.qid ORDER BY
                 {dec_dist.replace('qv', 'q.v').replace('cv', 'c.v')},
                 t.vec_id) AS rank
        FROM (SELECT DISTINCT qb.vec_id AS qid, cb.vec_id
              FROM qprobes qb
              JOIN bands cb ON qb.band_idx = cb.band_idx
                           AND qb.band_val = cb.band_val
              WHERE cb.vec_id <> qb.vec_id) t
        JOIN allv q ON q.vec_id = t.qid
        JOIN allv c ON c.vec_id = t.vec_id)
      WHERE rank <= 5),
    -- ======== IVF replay: portable-hash init + 2 Lloyd iterations ====
    cents0 AS (
      SELECT cid, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cid,
               v AS cv
        FROM allv)
      WHERE cid < 32),
    {lloyd_step('cents0', 1)},
    {lloyd_step('cents1', 2)},
    cell AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(c.cv, x -> x*x))
                 - 2 * list_sum(list_transform(list_zip(e.v, c.cv),
                                               z -> z[1]*z[2])),
                 c.cid) AS rn
        FROM allv e CROSS JOIN cents2 c)
      WHERE rn = 1),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(c.cv, x -> x*x))
                 - 2 * list_sum(list_transform(list_zip(q.v, c.cv),
                                               z -> z[1]*z[2])),
                 c.cid) AS rn
        FROM allv q CROSS JOIN cents2 c WHERE q.vec_id < 8)
      WHERE rn <= 8),
    ivf_topk AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, l.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                 {dec_dist.replace('qv', 'q.v').replace('cv', 'c.v')},
                 l.vec_id) AS rank
        FROM probes p
        JOIN cell l ON l.cid = p.cid AND l.vec_id <> p.qid
        JOIN allv q ON q.vec_id = p.qid
        JOIN allv c ON c.vec_id = l.vec_id)
      WHERE rank <= 5),
    -- ======== PQ replay: shared CTE chain -> top-5 ========
    {_pq_ctes_sql().strip()},
    pq_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY dist2, vec_id) AS rank
        FROM pq_rer)
      WHERE rank <= 5),
    -- ======== recall ========
    t AS (SELECT COUNT(*) AS n_truth, COUNT(DISTINCT qid) AS n_queries
          FROM truth)
    SELECT m.method, CAST(5 AS INT) AS k, t.n_queries, t.n_truth, m.n_hits,
           ROUND(CAST(m.n_hits AS DOUBLE) / t.n_truth, 6) AS recall
    FROM (
      SELECT 'lsh' AS method,
             (SELECT COUNT(*) FROM lsh_topk s JOIN truth USING (qid, vec_id))
               AS n_hits
      UNION ALL
      SELECT 'ivf',
             (SELECT COUNT(*) FROM ivf_topk s JOIN truth USING (qid, vec_id))
      UNION ALL
      SELECT 'lsh_mp',
             (SELECT COUNT(*) FROM lshmp_topk s JOIN truth USING (qid, vec_id))
      UNION ALL
      SELECT 'pq',
             (SELECT COUNT(*) FROM pq_top s JOIN truth USING (qid, vec_id))
    ) m CROSS JOIN t
    """


@query("ann_recall_report", _ann_recall_oracle_sql())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of ALL THREE approximate indexes (LSH bands, IVF
    probes, PQ codebooks+ADC) against exact brute-force kNN on the
    NATURAL corpus — the retrieval-quality number a production pipeline
    monitors. The oracle replays every index pipeline end to end in
    DuckDB (inlined hyperplane literals; portable-hash-seeded Lloyd
    retraining for IVF and all 8 PQ subspace codebooks via the shared
    CTE generators), so the recall values are hash-checked, not merely
    measured."""
    from rocketmq_flink_spark.operators.similarity import (
        ann_topk_lsh,
        ivf_topk,
        knn_bruteforce,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") < 8)
    truth = knn_bruteforce(q, emb, k=5).select("qid", "vec_id")
    t = truth.agg(
        F.count_distinct("qid").alias("n_queries"),
        F.count(F.lit(1)).alias("n_truth"),
    )
    from rocketmq_flink_spark.operators.similarity import pq_topk_rerank

    parts = []
    for method, approx in (
        ("lsh", ann_topk_lsh(q, emb, k=5)),
        ("lsh_mp", ann_topk_lsh(q, emb, k=5, multiprobe=1)),
        ("ivf", ivf_topk(q, emb, k=5, n_centroids=32, n_probe=8)),
        ("pq", pq_topk_rerank(q, emb, k=5, shortlist=50)),
    ):
        parts.append(
            approx.select("qid", "vec_id")
            .join(truth, ["qid", "vec_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(method).alias("method"), "n_hits")
        )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.union(p)
    return hits.crossJoin(F.broadcast(t)).select(
        "method",
        F.lit(5).cast("int").alias("k"),
        "n_queries",
        "n_truth",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_truth"), 6).alias("recall"),
    )


@query(
    "ivf_topk",
    f"WITH {_ANN_PLANTED_DUCK} SELECT qid, vec_id, dist2, rank FROM truth",
)
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k verified against planted ground truth: the
    planted micro-perturbations share the query's nearest centroid cell
    (perturbation 1e-3 vs O(1) centroid spacing), so n_probe=8 must
    surface all three — a hash match proves cell assignment, probing and
    exact decimal re-ranking end to end. Centroid training stays
    engine-side (deterministic seeded Lloyd); the oracle needs none of
    it, because the check is on what the index RETRIEVES."""
    from rocketmq_flink_spark.operators.similarity import ivf_topk

    q, corpus = _ann_planted_corpus(spark, sf_dir)
    return ivf_topk(
        q, corpus, k=3, n_centroids=32, n_probe=8
    ).orderBy("qid", "rank")


@query(
    "bpe_token_stats",
    r"""
    WITH t AS (
      SELECT source,
             len(list_filter(
               regexp_extract_all(text,
                 '''s|''t|''re|''ve|''m|''ll|''d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'),
               x -> NOT regexp_matches(x, '^\s+$'))) AS n_tok
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_pretokens,
           MIN(n_tok) AS min_pretokens, MAX(n_tok) AS max_pretokens
    FROM t GROUP BY source
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (GPT-2 pretokenizer regex, whitespace
    matches excluded) aggregated per source — one JVM-side regexp pass;
    the oracle replays the identical RE2-compatible pattern."""
    from rocketmq_flink_spark.operators.text import bpe_pretoken_count

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("source", bpe_pretoken_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_pretokens"),
            F.min("n_tok").alias("min_pretokens"),
            F.max("n_tok").alias("max_pretokens"),
        )
    )


def _rolling_fp_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    return f"""
    WITH n AS (SELECT doc_id, {_NORM_SQL_DUCK} AS norm FROM documents)
    SELECT doc_id,
           list_min(list_transform(
             range(1, greatest(len(norm) - 7, 1) + 1),
             i -> {hash60_sql("substr(norm, i, 8)")})) AS rfp
    FROM n
    """


@query("rolling_fingerprint_docs", _rolling_fp_oracle_sql())
def rolling_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprints (min portable 60-bit
    hash over 8-char windows of normalized text). Hash-checked: the
    DuckDB oracle recomputes every window hash. The normalization is
    projected ONCE before the window transform — inlining it would
    re-run the regex chain per window position (O(len^2))."""
    from rocketmq_flink_spark.operators.dedup import normalize_text
    from rocketmq_flink_spark.operators.text import rolling_hash_fingerprint

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            "doc_id", normalize_text(F.col("text")).alias("_norm")
        )
        .select("doc_id", rolling_hash_fingerprint("_norm").alias("rfp"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline, round 2: sequence packing, stratified
# sampling, vocabulary heavy-hitters (operators/pipeline.py)
# ---------------------------------------------------------------------------


@query(
    "pack_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                 x -> x <> '')) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tok,
             CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tok) / 512.0) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT source, pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, pack_id
    """,
)
def pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents fill 512-token context windows per
    source stream in deterministic doc_id order (cumulative-fill rule —
    closed-form over a running sum, no iterative packing state). Scale:
    one window shuffle on the stream key; streams pack independently,
    so pre-sharding the key bounds any single partition."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.pipeline import pack_sequences

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", "source",
        F.size(
            F.filter(
                F.split(F.expr(normalize_sql("text")), r"\s+"),
                lambda x: x != "",
            )
        ).cast("long").alias("n_tok"),
    )
    packed = pack_sequences(toks, "doc_id", "n_tok", "source", 512)
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _stratified_oracle_sql() -> str:
    from rocketmq_flink_spark.operators.pipeline import stratified_sample_sql

    pred = stratified_sample_sql(
        "doc_id", "lang", {"en": 500, "de": 250}, 100
    )
    return f"""
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
    FROM documents WHERE {pred}
    GROUP BY lang
    """


@query("stratified_sample_docs", _stratified_oracle_sql())
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: survival is a pure function of
    (salt, doc_id) via the portable md5 hash — en kept at 50%, de at
    25%, everything else at 10%. Hash-checked: the oracle replays the
    identical predicate, so the exact surviving id-set is proven, not
    just the rate. Scale: stateless row filter, no RNG, no
    coordination; rerunning on any cluster yields the same sample."""
    from rocketmq_flink_spark.operators.pipeline import stratified_sample

    docs = load_tables(spark, sf_dir)["documents"]
    kept = stratified_sample(
        docs, "doc_id", "lang", {"en": 500, "de": 250}, 100
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )


@query(
    "vocab_coverage_by_source",
    f"""
    WITH arr AS (
      SELECT source AS stratum,
             list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                         x -> x <> '') AS a
      FROM documents),
    toks AS (
      SELECT stratum, a[i] || ' ' || a[i + 1] AS tok
      FROM arr, unnest(range(1, len(a))) AS t(i)),
    stc AS (SELECT stratum, tok, COUNT(*) AS cnt
            FROM toks GROUP BY 1, 2),
    per AS (SELECT stratum, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_distinct
            FROM stc GROUP BY 1),
    tokl AS (SELECT tok, COUNT(*) AS n_strata FROM stc GROUP BY 1),
    vocab AS (SELECT COUNT(*) AS corpus_vocab FROM tokl),
    excl AS (
      SELECT stratum, COUNT(*) AS n_exclusive
      FROM stc JOIN tokl USING (tok)
      WHERE n_strata = 1 GROUP BY 1)
    SELECT p.stratum, p.n_tokens, p.n_distinct, v.corpus_vocab,
           ROUND(CAST(p.n_distinct AS DOUBLE) / v.corpus_vocab, 6)
             AS coverage,
           COALESCE(e.n_exclusive, 0) AS n_exclusive,
           ROUND(CAST(COALESCE(e.n_exclusive, 0) AS DOUBLE)
                 / p.n_distinct, 6) AS exclusive_rate
    FROM per p CROSS JOIN vocab v
    LEFT JOIN excl e ON e.stratum = p.stratum
    ORDER BY p.stratum
    """,
)
def vocab_coverage_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / exclusivity per document source over the
    word-BIGRAM vocabulary (the fixture's unigram vocabulary is
    saturated — every source covers it — so bigrams are the unit that
    actually discriminates): how much of the corpus vocabulary each
    source exercises and how much exists nowhere else —
    tokenizer-coverage and domain-novelty numbers for mixture design.
    All counts exact; shuffle volume is vocab-bounded (see
    operators/text.py vocab_coverage)."""
    from rocketmq_flink_spark.operators.text import vocab_coverage

    docs = load_tables(spark, sf_dir)["documents"]
    return vocab_coverage(docs, "source", "text", ngram=2).orderBy("stratum")


def _pps_oracle_sql(n: int = 40, salt: str = "pps") -> str:
    """DuckDB replay of systematic PPS sampling: identical hash order,
    BIGINT cumulative weight line, integer stride-hit arithmetic."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH base AS (
      SELECT source AS stratum, doc_id AS id, n_chars AS weight,
             {h} AS hh
      FROM documents),
    c AS (
      SELECT stratum, id, weight,
             SUM(weight) OVER (PARTITION BY stratum ORDER BY hh, id
                               ROWS UNBOUNDED PRECEDING) AS cum,
             GREATEST(SUM(weight) OVER (PARTITION BY stratum), 1) AS t
      FROM base)
    SELECT stratum, id, weight,
           CAST((cum * {n}) // t - ((cum - weight) * {n}) // t
                AS BIGINT) AS n_hits
    FROM c
    WHERE (cum * {n}) // t - ((cum - weight) * {n}) // t >= 1
    ORDER BY stratum, id
    """


@query("pps_weighted_sample", _pps_oracle_sql())
def pps_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) sampling of ~40
    documents per source, inclusion probability proportional to
    n_chars — the "long documents count for more" sampler a mixture
    pipeline needs to be reproducible. Systematic PPS over a
    hash-permuted BIGINT weight line: every selection decision is
    integer arithmetic, so the oracle proves the exact selected set
    (ids AND multiplicities), not just the rate. Scale notes:
    operators/pipeline.py pps_systematic_sample."""
    from rocketmq_flink_spark.operators.pipeline import pps_systematic_sample

    docs = load_tables(spark, sf_dir)["documents"]
    return pps_systematic_sample(
        docs, "doc_id", "n_chars", "source", 40
    ).orderBy("stratum", "id")


@query(
    "heavy_hitter_tokens",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                           x -> x <> ''))) AS tok
      FROM documents
    )
    SELECT tok, COUNT(*) AS df FROM toks
    GROUP BY tok ORDER BY df DESC, tok LIMIT 20
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vocabulary tokens by document frequency. Scale: per-doc
    token sets deduplicated BEFORE the shuffle (hot tokens cost one row
    per document, not per occurrence); count agg is map-side combined;
    the top-20 runs as TakeOrdered, never a global sort."""
    from rocketmq_flink_spark.operators.pipeline import doc_frequency_topk

    docs = load_tables(spark, sf_dir)["documents"]
    return doc_frequency_topk(docs, "doc_id", "text", k=20)


@query(
    "punctuated_watermark_events",
    """
    WITH e AS (
      SELECT epoch_us(ts) AS ts_us, event_id,
             event_id - (event_id % 7) + (6 - event_id % 7) AS arrival,
             CAST(user_id % 4 AS BIGINT) AS q,
             event_type = 'purchase' AS is_marker,
             epoch_us(ts) AS wm_us
      FROM events
    ),
    r AS (
      SELECT q, ts_us, event_id,
             MAX(CASE WHEN is_marker THEN wm_us END) OVER (
               PARTITION BY q ORDER BY arrival
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_wm
      FROM e
    )
    SELECT q, COUNT(*) AS n_kept, CAST(SUM(event_id) AS BIGINT) AS sum_ids
    FROM r WHERE run_wm IS NULL OR ts_us > run_wm
    GROUP BY q
    """,
)
def punctuated_watermark_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuated watermark (W4, PunctuatedAssigner): purchase events
    carry a watermark of their own timestamp; rows arriving after a
    marker (arrival = event ids locally permuted in blocks of 7 — the
    fixture's ts is monotone in event_id, so a deterministic
    permutation stands in for network reordering) whose event time is
    at or before the carried watermark are late and dropped (~14% of
    rows). One window shuffle on the queue key; the stateful streaming
    twin is tested to match microbatch-by-microbatch."""
    from rocketmq_flink_spark.streaming.ops import punctuated_filter_batch

    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select(
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        (F.col("event_id") - (F.col("event_id") % 7)
         + (F.lit(6) - F.col("event_id") % 7)).alias("arrival"),
        (F.col("user_id") % 4).alias("q"),
        (F.col("event_type") == "purchase").alias("is_marker"),
        F.unix_micros("ts").alias("wm_us"),
    )
    kept = punctuated_filter_batch(
        e, "q", "ts_us", "is_marker", "wm_us", arrival_col="arrival"
    )
    return kept.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("event_id").alias("sum_ids"),
    )


@query(
    "rarity_score_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(
        list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
    n AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_total FROM vocab)
    SELECT doc_id,
           ROUND(CAST(SUM((n_total * 1000000) // freq) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) AS rarity,
           COUNT(*) AS n_tok
    FROM toks JOIN vocab USING (tok) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def rarity_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean inverse unigram probability
    per document, computed with scaled BIGINT integer division so the
    score is bit-reproducible at any partition count (no float
    accumulation). The Zipf-skewed token join is the scale hot spot —
    AQE skew-join handles it (session default)."""
    from rocketmq_flink_spark.operators.text import rarity_scores

    docs = load_tables(spark, sf_dir)["documents"]
    return rarity_scores(docs, "doc_id", "text")


@query(
    "json_codec_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      MIN(epoch_us(ts)) AS min_ts_us, MAX(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
)
def json_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-pluggable JSON codec (§2.7 registry) round trip: typed rows
    -> to_json envelope bodies -> from_json decode -> agg. Both
    directions are Catalyst built-ins (whole-stage codegen, no Python);
    the oracle sees only the original table, so a hash match proves the
    JSON wire format is lossless including timestamp micros."""
    from rocketmq_flink_spark.functions.registry import decode_with, encode_with

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type", "value", "ts"
    )
    # default JSON timestamp format truncates to millis; micros on both
    # directions keeps the round trip lossless (asserted by the oracle)
    us = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    env = encode_with(
        ev, "json",
        {"topic": "events", "keyColumns": "event_id", "timestampFormat": us},
    )
    back = decode_with(
        env,
        "json",
        schema="event_id BIGINT, event_type STRING, value DOUBLE, ts TIMESTAMP",
        options={"timestampFormat": us},
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2(F.col("value"))).cast("double").alias("sum_value"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "chunk_documents_rag",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id, toks,
             GREATEST(CAST(CEIL((len(toks) - 8) / 24.0) AS BIGINT), 1) AS nc
      FROM t
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
           CAST(len(toks[i*24+1 : i*24+32]) AS INTEGER) AS n_tok
    FROM b, unnest(range(nc)) AS u(i)
    """,
)
def chunk_documents_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping chunking: 32-token windows, 8-token
    overlap (stride 24), final partial chunk kept. Hash-checked down to
    the chunk text itself. Scale: pure explode+slice built-ins, no
    shuffle — embarrassingly parallel over documents."""
    from rocketmq_flink_spark.operators.pipeline import chunk_documents

    docs = load_tables(spark, sf_dir)["documents"]
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)


# ---------------------------------------------------------------------------
# Round-3 pipeline operators: benchmark decontamination, repetition
# quality filters, PII redaction, incremental (batch-vs-index) dedup
# ---------------------------------------------------------------------------

_GRAMS5_DUCK = (
    "list_distinct(list_transform(range(1, greatest(len(arr) - 4, 1) + 1),"
    " i -> array_to_string(arr[i:i+4], ' ')))"
)


@query(
    "decontamination_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, unnest({_GRAMS5_DUCK}) AS sh
      FROM t WHERE doc_id % 97 <> 0
    ),
    bg AS (
      SELECT DISTINCT sh FROM (
        SELECT unnest({_GRAMS5_DUCK}) AS sh FROM t WHERE doc_id % 97 = 0)
    ),
    per AS (
      SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN bg.sh IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlap
      FROM g LEFT JOIN bg ON g.sh = bg.sh
      GROUP BY g.doc_id, g.source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN 10 * n_overlap >= n_grams THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(n_overlap) AS BIGINT) AS sum_overlap,
           CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
           ROUND(CAST(SUM(n_overlap) AS DOUBLE) / SUM(n_grams), 6)
             AS overlap_frac
    FROM per GROUP BY source ORDER BY source
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap filter):
    documents checked for distinct word-5-gram overlap against a held-out
    "benchmark" subset (doc_id % 97 == 0 stands in for the eval suite).
    Per-source report from exact BIGINT counters; a doc is contaminated
    when >= 10% of its grams appear in the benchmark (integer-compare,
    no float accumulation). Scale: the benchmark gram set is broadcast —
    the corpus shuffles only per-doc counters, never text."""
    from rocketmq_flink_spark.operators.contamination import ngram_contamination

    docs = load_tables(spark, sf_dir)["documents"]
    bench = docs.where(F.col("doc_id") % 97 == 0)
    targets = docs.where(F.col("doc_id") % 97 != 0)
    per = ngram_contamination(targets, bench, "doc_id", "text", n=5)
    per = per.join(docs.select("doc_id", "source"), "doc_id")
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    10 * F.col("n_overlap") >= F.col("n_grams"), 1
                ).otherwise(0)
            ).alias("n_contaminated"),
            F.sum("n_overlap").alias("sum_overlap"),
            F.sum("n_grams").alias("sum_grams"),
        )
        .withColumn(
            "overlap_frac",
            F.round(F.col("sum_overlap") / F.col("sum_grams"), 6),
        )
        .orderBy("source")
    )


@query(
    "repetition_quality",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
      FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, greatest(len(arr) - 1, 1) + 1),
                                   i -> array_to_string(arr[i:i+1], ' ')))
               AS gram
      FROM t
    ),
    pg AS (
      SELECT doc_id, source, gram, COUNT(*) AS cnt
      FROM g GROUP BY doc_id, source, gram
    ),
    per AS (
      SELECT doc_id, source,
             CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_occ,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
      FROM pg GROUP BY doc_id, source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN 5 * dup_occ >= n_ngrams THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive,
           CAST(SUM(dup_occ) AS BIGINT) AS sum_dup,
           CAST(SUM(n_ngrams) AS BIGINT) AS sum_ngrams,
           CAST(MAX(top_cnt) AS BIGINT) AS max_top_bigram,
           ROUND(CAST(SUM(dup_occ) AS DOUBLE) / SUM(n_ngrams), 6)
             AS dup_frac
    FROM per GROUP BY source ORDER BY source
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (Gopher-style duplicate-bigram
    fraction): per-source report of documents whose duplicated-bigram
    occurrence share >= 20% (exact integer compare over BIGINT counters).
    Scale: explode bigram occurrences -> one map-side-combined
    (doc, gram) count -> one per-doc agg; nothing quadratic in doc
    length, no floats until the single final ratio."""
    from rocketmq_flink_spark.operators.text import repetition_features

    docs = load_tables(spark, sf_dir)["documents"]
    rep = repetition_features(docs, "doc_id", "text", n=2)
    rep = rep.join(docs.select("doc_id", "source"), "doc_id")
    return (
        rep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    5 * F.col("dup_ngram_occ") >= F.col("n_ngrams"), 1
                ).otherwise(0)
            ).alias("n_repetitive"),
            F.sum("dup_ngram_occ").alias("sum_dup"),
            F.sum("n_ngrams").alias("sum_ngrams"),
            F.max("top_ngram_count").alias("max_top_bigram"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("sum_dup") / F.col("sum_ngrams"), 6)
        )
        .orderBy("source")
    )


def _pii_oracle_sql() -> str:
    """DuckDB replay of the PII inject -> detect -> redact pipeline.

    The patterns live in operators/text.py PII_PATTERNS and use only the
    regex subset Java and RE2 agree on; the redaction checksum hashes
    every redacted text through the portable 60-bit md5 hash, so a match
    proves byte-identical redacted output, not just equal counts."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql
    from rocketmq_flink_spark.operators.text import PII_PATTERNS

    em, ip, ph = (
        PII_PATTERNS["email"],
        PII_PATTERNS["ipv4"],
        PII_PATTERNS["phone"],
    )
    injected = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com'"
        " || CASE WHEN doc_id % 3 = 0 THEN"
        "      ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'"
        "      || CAST(doc_id % 50 AS VARCHAR)"
        "    ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN"
        "      ' call +555 867 '"
        "      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        "    ELSE '' END"
    )
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(inj,"
        f" '{em}', '<EMAIL>', 'g'),"
        f" '{ip}', '<IPV4>', 'g'),"
        f" '{ph}', '<PHONE>', 'g')"
    )
    return f"""
    WITH inj AS (SELECT doc_id, source, {injected} AS inj FROM documents),
    per AS (
      SELECT doc_id, source,
             len(regexp_extract_all(inj, '{em}')) AS n_email,
             len(regexp_extract_all(inj, '{ip}')) AS n_ipv4,
             len(regexp_extract_all(inj, '{ph}')) AS n_phone,
             {hash60_sql(red)} % 1000003 AS rh
      FROM inj
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS sum_email,
           CAST(SUM(n_ipv4) AS BIGINT) AS sum_ipv4,
           CAST(SUM(n_phone) AS BIGINT) AS sum_phone,
           CAST(SUM(rh) AS BIGINT) AS redact_check
    FROM per GROUP BY source ORDER BY source
    """


@query("pii_redaction", _pii_oracle_sql())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: deterministic synthetic PII
    (emails always, IPv4 for doc_id%3==0, phone for doc_id%2==0) is
    injected into each document, detected with the shared Java/RE2-safe
    patterns, and redacted to <KIND> placeholders. The oracle re-runs
    the identical inject/detect/redact chain in DuckDB and compares a
    per-source checksum of the redacted bytes — proving the regex
    semantics agree across engines, not merely the counts. Scale: pure
    regexp_replace chain, whole-stage codegen, zero Python, zero extra
    shuffles beyond the final per-source agg."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.text import pii_counts, redact_pii

    docs = load_tables(spark, sf_dir)["documents"]
    did = F.col("doc_id")
    inj = F.concat(
        F.col("text"),
        F.lit(" contact u"), did.cast("string"), F.lit("@ex.com"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" from 10."), (did % 200).cast("string"),
                F.lit(".0."), (did % 50).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" call +555 867 "),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    base = docs.select("doc_id", "source", inj.alias("inj"))
    counted = base.withColumns(pii_counts("inj")).withColumn(
        "rh", hash60(redact_pii("inj")) % 1000003
    )
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("sum_email"),
            F.sum("n_ipv4").alias("sum_ipv4"),
            F.sum("n_phone").alias("sum_phone"),
            F.sum("rh").alias("redact_check"),
        )
        .orderBy("source")
    )


def _incremental_minhash_oracle_sql() -> str:
    """DuckDB replay of the batch-vs-index MinHash probe: identical
    portable hash family, banding, estimator, and deterministic
    min-index winner selection."""
    from rocketmq_flink_spark.functions.porthash import (
        hash31_sql,
        minhash_coeffs,
    )

    coeffs = minhash_coeffs(64)
    a_lit = "[" + ", ".join(str(a) for a, _ in coeffs) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in coeffs) + "]"
    return f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    hx AS (SELECT doc_id, {hash31_sql('sh')} AS x FROM sh),
    ab AS (SELECT j, CAST(({a_lit})[j+1] AS BIGINT) AS a,
                  CAST(({b_lit})[j+1] AS BIGINT) AS b
           FROM (SELECT unnest(range(64)) AS j)),
    minh AS (
      SELECT doc_id, j, MIN((a * x + b) % 2147483647) AS mh
      FROM hx CROSS JOIN ab GROUP BY doc_id, j
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY j) AS sig FROM minh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, sig, bs.bb AS band,
             array_to_string(sig[bs.bb*4+1 : bs.bb*4+4], ',') AS bkey
      FROM sig CROSS JOIN (SELECT unnest(range(16)) AS bb) bs
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id,
                      n.sig AS sa, i.sig AS sb
      FROM banded n JOIN banded i
        ON n.band = i.band AND n.bkey = i.bkey
      WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0
    ),
    m AS (
      SELECT new_id, idx_id,
             ROUND(CAST(list_sum(list_transform(list_zip(sa, sb),
                   p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
                   / 64.0, 6) AS est
      FROM cand
    )
    SELECT new_id AS doc_id, MIN(idx_id) AS dup_of,
           arg_min(est, idx_id) AS est_jaccard
    FROM m WHERE est >= 0.7 GROUP BY new_id
    """


@query("incremental_dedup_batch", _incremental_minhash_oracle_sql())
def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (the steady-state production shape): odd
    doc_ids arrive as a new batch and probe the MinHash band index of
    the even-id corpus; no batch-vs-batch or index-vs-index pairs are
    ever generated. Fully hash-checked: the oracle replays the portable
    hash family, banding, estimator, and min-index winner."""
    from rocketmq_flink_spark.operators.dedup import incremental_minhash_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    idx = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    return incremental_minhash_dedup(new, idx, "doc_id", "text", threshold=0.7)


@query(
    "tfidf_top_terms",
    f"""
    WITH tk AS (
      SELECT doc_id,
             unnest(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM tk WHERE tok <> ''
      GROUP BY doc_id, tok
    ),
    dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.tok, CAST(tf.tf AS BIGINT) AS tf, dfq.df,
             CAST(tf.tf AS BIGINT) * ((n.n_docs * 1000000) // dfq.df)
               AS tfidf_scaled
      FROM tf JOIN dfq USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tfidf_scaled DESC, tok ASC) AS rn
      FROM scored
    )
    SELECT doc_id, tok, tf, df, tfidf_scaled FROM ranked WHERE rn <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by log-free integer
    tf-idf (text analysis surface): ranking and score are exact BIGINT
    arithmetic, bit-identical across engines and partitionings."""
    from rocketmq_flink_spark.operators.text import tfidf_top_terms

    docs = load_tables(spark, sf_dir)["documents"]
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


@query(
    "quality_filter_report",
    f"""
    WITH t AS (
      SELECT doc_id, source, text,
             regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr,
             {_NORM_SQL_DUCK} AS norm
      FROM documents
    ),
    base AS (
      SELECT doc_id, source,
             CASE WHEN norm = '' THEN 0 ELSE len(arr) END AS n_tokens,
             length(text) AS nc,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na,
             length(text) - length(regexp_replace(text, '[^\\s]', '', 'g'))
               AS nw
      FROM t
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(arr) - 1, 1) + 1),
                                   i -> array_to_string(arr[i:i+1], ' ')))
               AS gram
      FROM t
    ),
    pg AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
    rep AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_occ
      FROM pg GROUP BY doc_id
    ),
    flags AS (
      SELECT b.source,
             CASE
               WHEN b.n_tokens < 10 THEN 'short'
               WHEN 10 * b.nw > 100 * greatest(b.n_tokens, 1) THEN 'meanlen'
               WHEN 1000 * b.na < 550 * greatest(b.nc, 1) THEN 'alpha'
               WHEN 1000 * r.dup_occ > 200 * greatest(r.n_ngrams, 1)
                 THEN 'repetitive'
               ELSE ''
             END AS fail_rule
      FROM base b JOIN rep r USING (doc_id)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN fail_rule = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN fail_rule = 'short' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN fail_rule = 'meanlen' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_meanlen,
           CAST(SUM(CASE WHEN fail_rule = 'alpha' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alpha,
           CAST(SUM(CASE WHEN fail_rule = 'repetitive' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive
    FROM flags GROUP BY source ORDER BY source
    """,
)
def quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality-filter chain (C4/Gopher rule family) with
    first-failing-rule drop attribution, reported per source. Every rule
    is an exact scaled-integer comparison — the keep decision is
    bit-stable across engines and partitionings."""
    from rocketmq_flink_spark.operators.text import quality_filter_flags

    docs = load_tables(spark, sf_dir)["documents"]
    flags = quality_filter_flags(docs, "doc_id", "text")
    flags = flags.join(docs.select("doc_id", "source"), "doc_id")
    cnt = lambda rule: F.sum(  # noqa: E731
        F.when(F.col("fail_rule") == rule, 1).otherwise(0)
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt("").alias("n_kept"),
            cnt("short").alias("n_short"),
            cnt("meanlen").alias("n_meanlen"),
            cnt("alpha").alias("n_alpha"),
            cnt("repetitive").alias("n_repetitive"),
        )
        .orderBy("source")
    )


@query(
    "mixture_reweighting",
    """
    WITH tok AS (
      SELECT source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END AS n_tok
      FROM documents
    ),
    avail AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS available_tokens
      FROM tok GROUP BY source
    ),
    budget AS (
      SELECT CAST(SUM(available_tokens) // 2 AS BIGINT) AS b FROM avail
    )
    SELECT source, available_tokens,
           CAST(b * 50 // 1000 AS BIGINT) AS desired_tokens,
           CAST(LEAST(1000, (b * 50 // 1000) * 1000
                      // GREATEST(available_tokens, 1)) AS BIGINT)
             AS rate_permille,
           CAST(available_tokens
                * LEAST(1000, (b * 50 // 1000) * 1000
                        // GREATEST(available_tokens, 1)) // 1000 AS BIGINT)
             AS expected_tokens
    FROM avail CROSS JOIN budget ORDER BY source
    """,
)
def mixture_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source sampling rates hitting a
    uniform 5%-per-source token mixture under a budget of half the
    corpus tokens — all-BIGINT closed form (pipeline.mixture_weights),
    the rates feed stratified_sample directly. One agg shuffle."""
    from rocketmq_flink_spark.operators.pipeline import mixture_weights
    from rocketmq_flink_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir)["documents"]
    with_tok = docs.select("source", token_count("text").alias("n_tok"))
    total = with_tok.agg(
        F.sum("n_tok").cast("long").alias("t")
    ).first()[0]
    out = mixture_weights(
        with_tok, "source", "n_tok",
        budget_tokens=int(total) // 2,
        default_permille=50,
    )
    return out.orderBy("source")


@query(
    "corpus_profile",
    f"""
    WITH t AS (
      SELECT doc_id, {_NORM_SQL_DUCK} AS norm FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(norm, '\\s+')) AS tokk
      FROM t
    ),
    tk AS (SELECT doc_id, tokk FROM tok WHERE tokk <> '')
    SELECT
      (SELECT COUNT(*) FROM t) AS n_docs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tk) AS n_tokens,
      (SELECT CAST(COUNT(DISTINCT tokk) AS BIGINT) FROM tk) AS vocab_size,
      (SELECT CAST(COUNT(DISTINCT norm) AS BIGINT) FROM t) AS n_distinct_docs,
      (SELECT CAST((COUNT(*) - COUNT(DISTINCT norm)) * 1000 // COUNT(*)
                   AS BIGINT) FROM t) AS dup_permille
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus summary (the first query any pipeline run reports):
    document/token/vocabulary counts, distinct normalized documents, and
    the exact-duplicate rate in permille (integer arithmetic). Scale:
    two aggregation passes over the token explode plus one distinct-doc
    agg; no joins, no windows."""
    docs = load_tables(spark, sf_dir)["documents"]
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    norm = docs.select(
        "doc_id", F.expr(normalize_sql("text")).alias("norm")
    )
    tok = norm.select(
        F.explode(F.split(F.col("norm"), r"\s+")).alias("tokk")
    ).where(F.col("tokk") != "")
    tok_stats = tok.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct(F.col("tokk")).alias("vocab_size"),
    )
    doc_stats = norm.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("norm")).alias("n_distinct_docs"),
    ).withColumn(
        "dup_permille",
        F.expr("(n_docs - n_distinct_docs) * 1000 div n_docs"),
    )
    return doc_stats.join(tok_stats).select(
        "n_docs", "n_tokens", "vocab_size", "n_distinct_docs", "dup_permille"
    )


def _repeated_passages_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("array_to_string(arr[i*10+1 : i*10+20], ' ')")
    return f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
      FROM documents
    ),
    p AS (
      SELECT doc_id, {h} AS passage_hash
      FROM t, unnest(range(greatest((len(arr) - 20) // 10, 0) + 1)) AS u(i)
    )
    SELECT passage_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM p GROUP BY passage_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """


@query("repeated_passages", _repeated_passages_oracle_sql())
def repeated_passages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection (exact-substring dedup
    family): 20-token windows at stride 10, portable 60-bit hashes, only
    8-byte hashes ever shuffle. Hash-checked: DuckDB replays the window
    layout and hash."""
    from rocketmq_flink_spark.operators.dedup import repeated_passages

    docs = load_tables(spark, sf_dir)["documents"]
    return repeated_passages(docs, "doc_id", "text", window=20, stride=10)


@query(
    "log_compaction_latest_per_key",
    """
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             CAST(value AS DECIMAL(12,2)) AS val,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_event_type,
           CAST(val AS DOUBLE) AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def log_compaction_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message-log compaction (compacted-topic semantics: retain the
    LATEST record per key): one ranking window per key ordered by
    (ts, event_id) descending with a total-order tie-break. The shape a
    compacting consumer materializes from the events topic; one shuffle
    on the key, AQE-coalesced."""
    from pyspark.sql import Window as W

    ev = _events_typed(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            _dec2(F.col("value")).cast("double").alias("last_value"),
        )
    )


@query(
    "json_props_extraction",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events GROUP BY event_type
    """,
)
def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: the events stream's JSON
    props column parsed JVM-side (get_json_object — no Python, pushes
    through whole-stage codegen) and aggregated per event type. The
    user-property surface a message-log consumer reads structurally."""
    ev = _events_typed(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("n_missing"),
    )


@query(
    "bpe_merge_candidates",
    """
    WITH pt AS (
      SELECT unnest(regexp_extract_all(text,
        '''s|''t|''re|''ve|''m|''ll|''d| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
        AS tok
      FROM documents
    ),
    w AS (SELECT trim(tok) AS tok FROM pt
          WHERE NOT regexp_matches(tok, '^\\s+$')),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(tok)),
                                   i -> substring(tok, CAST(i AS INT), 2)))
        AS pair
      FROM w WHERE length(tok) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of BPE tokenizer training: the top-20 adjacent character
    pairs by corpus frequency within GPT-2-style pretokens (the pair a
    first merge would fuse). Pure built-ins: regexp pretokenize ->
    substring-pair explode -> one map-side-combined count -> TakeOrdered
    top-k. Leading pretoken spaces are trimmed so pair counts reflect
    word-internal adjacency (the merge target), matching the oracle."""
    from rocketmq_flink_spark.operators.text import BPE_PRETOKEN_RE

    docs = load_tables(spark, sf_dir)["documents"]
    pt = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
            )
        ).alias("tok")
    ).where(~F.col("tok").rlike(r"^\s+$"))
    w = pt.select(F.trim(F.col("tok")).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Probabilistic sketches (round 3): portable HLL cardinality + Count-Min
# frequency — the two sketches a 100 TB pipeline monitors with. Both are
# built on the portable md5 hash family, so the DuckDB oracle replays
# registers/counters bit-exactly (Spark's own approx_count_distinct has
# engine-private registers and could never be hash-checked).
# ---------------------------------------------------------------------------


def _countmin_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.porthash import hash31_sql
    from rocketmq_flink_spark.operators.sketches import countmin_cells_sql

    cells = countmin_cells_sql(hash31_sql("tok"))
    return f"""
    WITH tk AS (
      SELECT tok
      FROM (SELECT unnest(regexp_split_to_array({_NORM_SQL_DUCK},
                   '\\s+')) AS tok FROM documents)
      WHERE tok <> ''
    ),
    exact AS (SELECT tok, COUNT(*) AS exact_n FROM tk GROUP BY tok),
    top AS (SELECT * FROM exact ORDER BY exact_n DESC, tok LIMIT 20),
    cells AS (SELECT unnest({cells}) AS cell FROM tk),
    sketch AS (SELECT cell[1] AS r, cell[2] AS c, COUNT(*) AS cnt
               FROM cells GROUP BY 1, 2),
    probe AS (
      SELECT tok, exact_n, unnest({cells}) AS cell
      FROM top
    ),
    est AS (
      SELECT p.tok, p.exact_n, MIN(s.cnt) AS cm_est
      FROM probe p JOIN sketch s
        ON s.r = p.cell[1] AND s.c = p.cell[2]
      GROUP BY 1, 2
    )
    SELECT tok, exact_n, cm_est, cm_est - exact_n AS overcount
    FROM est ORDER BY exact_n DESC, tok
    """


@query("countmin_token_counts", _countmin_oracle_sql())
def countmin_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows x w=256 counters, portable universal
    hashes) over the corpus token stream, probed for the top-20 exact
    heavy-hitter tokens: (token, exact count, CM estimate, overcount).
    CM never undercounts (est >= exact is structural); counters are
    additive so shard sketches merge by cell-wise sum. The oracle
    rebuilds the identical counters in SQL and must match every
    estimate bit-for-bit."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.sketches import (
        countmin_probe,
        countmin_sketch,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # toks feeds the exact counts AND the sketch counters, but a
    # lineage cut here was MEASURED SLOWER (1.26 -> 1.32 s quiet A/B,
    # optimization r08): materializing the corpus-scale token-string
    # stream costs more than the re-tokenize that AQE's runtime
    # exchange reuse already partly dedupes. Left uncut on evidence.
    toks = docs.select(
        F.explode(
            F.split(F.expr(normalize_sql("text")), r"\s+")
        ).alias("tok")
    ).where(F.col("tok") != "")
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), "tok").limit(20)
    sketch = countmin_sketch(toks, "tok")
    probed = countmin_probe(sketch, top, "tok")
    return (
        top.join(probed, "tok")
        .select(
            "tok", "exact_n", "cm_est",
            (F.col("cm_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "tok")
    )


@query(
    "lm_surprisal_by_source",
    f"""
    WITH arr AS (
      SELECT source, regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS a
      FROM documents
    ),
    bg AS (
      SELECT source, a[i] AS w1, a[i + 1] AS w2
      FROM arr, unnest(range(1, len(a))) AS t(i)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    sc AS (
      SELECT b.source,
             length(bin(c1.c1)) - length(bin(c2.c2)) AS sq
      FROM bg b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
                JOIN c1 ON c1.w1 = b.w1
    )
    SELECT source, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(sq) AS DOUBLE) / COUNT(*), 6) AS mean_surprise_q
    FROM sc GROUP BY source ORDER BY source
    """,
)
def lm_surprisal_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-as-LM quality scoring: mean quantized bigram surprisal
    (integer -log2 P(w2|w1), exact bin()-length arithmetic — no libm)
    per document source. Low mean = predictable/templated text, high =
    rare constructions — the perplexity-filter axis a CCNet-style
    pipeline bins on, here hash-checked because every score is an
    integer ratio. Scale: see operators/text.py bigram_surprisal."""
    from rocketmq_flink_spark.operators.text import bigram_surprisal

    docs = load_tables(spark, sf_dir)["documents"]
    return bigram_surprisal(docs, "doc_id", "text", group_col="source").orderBy(
        "source"
    )


def _kmeans_profile_oracle_sql() -> str:
    """DuckDB replay of the full k-means pipeline (portable-hash seeded
    init + two Lloyd iterations, shared CTE generator with
    ann_recall_report) followed by the per-cluster label profile."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH allv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents0 AS (
      SELECT cid, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cid,
               v AS cv
        FROM allv)
      WHERE cid < 32),
    {_lloyd_step_sql('cents0', 1)},
    {_lloyd_step_sql('cents1', 2)},
    cell AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(c.cv, x -> x*x))
                 - 2 * list_sum(list_transform(list_zip(e.v, c.cv),
                                               z -> z[1]*z[2])),
                 c.cid) AS rn
        FROM allv e CROSS JOIN cents2 c)
      WHERE rn = 1),
    cnt AS (
      SELECT cid, label, COUNT(*) AS n
      FROM cell JOIN embeddings USING (vec_id) GROUP BY 1, 2),
    tot AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS n_vecs
            FROM cnt GROUP BY 1),
    top AS (
      SELECT cid, label AS top_label, n AS top_label_n FROM (
        SELECT cid, label, n,
               ROW_NUMBER() OVER (PARTITION BY cid
                                  ORDER BY n DESC, label) AS rn
        FROM cnt)
      WHERE rn = 1)
    SELECT t.cid, t.n_vecs, p.top_label, p.top_label_n,
           ROUND(CAST(p.top_label_n AS DOUBLE) / t.n_vecs, 6) AS purity
    FROM tot t JOIN top p USING (cid)
    ORDER BY cid
    """


@query("kmeans_cluster_profile", _kmeans_profile_oracle_sql())
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic corpus map: distributed k-means (the IVF trainer —
    deterministic portable-hash init + 2 Lloyd iterations) over the
    embedding corpus, profiled per cluster: size, majority label and
    label purity — the clustering report a semantic-dedup / data-mixing
    pipeline drives sampling decisions with. Hash-checked end to end:
    the oracle RETRAINS the same index in chained SQL CTEs, so a match
    proves init, both Lloyd steps and final assignment. Scale: only the
    32 x 64-float centroid table touches the driver; assignment is one
    vectorized Arrow pass; profile aggregations are map-side-combined
    integer counts."""
    from rocketmq_flink_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = ivf_centroids(emb, "vec_id", "embedding", n_centroids=32, iters=2)
    cnt = (
        # spread=False: downstream is one map-side-combinable count —
        # same rationale as the Lloyd loop (ivf_assign docstring)
        ivf_assign(emb, cents, spread=False)
        .groupBy(F.col("_centroid").alias("cid"), "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cid").orderBy(F.desc("n"), "label")
    tot = cnt.groupBy("cid").agg(F.sum("n").alias("n_vecs"))
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cid",
            F.col("label").alias("top_label"),
            F.col("n").alias("top_label_n"),
        )
    )
    return (
        tot.join(top, "cid")
        .withColumn(
            "purity",
            F.round(F.col("top_label_n").cast("double") / F.col("n_vecs"), 6),
        )
        .orderBy("cid")
    )


@query(
    "fuzzy_decontamination_report",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    probes AS (
      SELECT doc_id AS bid, CAST(i AS INTEGER) AS probe_idx,
             toks[i*8+1 : i*8+16] AS pa,
             array_to_string(toks[i*8+1 : i*8+16], ' ') AS probe_text
      FROM (SELECT doc_id, toks,
                   GREATEST(CAST(CEIL((len(toks) - 8) / 8.0) AS BIGINT),
                            1) AS nc
            FROM t WHERE doc_id % 11 = 0),
           unnest(range(nc)) AS u(i)
    ),
    pg AS (
      SELECT DISTINCT bid, probe_idx,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(pa) - 4, 1) + 1),
               i -> array_to_string(pa[i:i+4], ' ')))) AS sh
      FROM probes
    ),
    chunks AS (
      SELECT doc_id, source, CAST(i AS INTEGER) AS chunk_idx,
             toks[i*8+1 : i*8+16] AS ca,
             array_to_string(toks[i*8+1 : i*8+16], ' ') AS chunk_text
      FROM (SELECT doc_id, source, toks,
                   GREATEST(CAST(CEIL((len(toks) - 8) / 8.0) AS BIGINT),
                            1) AS nc
            FROM t WHERE doc_id % 11 <> 0),
           unnest(range(nc)) AS u(i)
    ),
    cg AS (
      SELECT doc_id, chunk_idx,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ca) - 4, 1) + 1),
               i -> array_to_string(ca[i:i+4], ' ')))) AS sh
      FROM chunks
    ),
    cand AS (
      SELECT DISTINCT cg.doc_id, cg.chunk_idx, pg.bid, pg.probe_idx
      FROM cg JOIN pg USING (sh)
    ),
    ver AS (
      SELECT c.source, c.doc_id,
             levenshtein(c.chunk_text, p.probe_text) AS dist,
             length(p.probe_text) AS plen
      FROM cand
      JOIN chunks c USING (doc_id, chunk_idx)
      JOIN probes p USING (bid, probe_idx)
      WHERE 100 * levenshtein(c.chunk_text, p.probe_text)
            <= 30 * length(p.probe_text)
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_flagged_docs,
           COUNT(*) AS n_hits,
           CAST(MIN(dist) AS BIGINT) AS min_dist
    FROM ver GROUP BY source ORDER BY source
    """,
)
def fuzzy_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (Levenshtein-verified) benchmark decontamination: the
    near-match tier above the exact n-gram filter. Probes = EVERY
    16-token window (stride 8) of the held-out "benchmark" docs
    (doc_id%11==0); targets are chunked the same way; candidates
    require a shared word-5-gram with a probe (broadcast gram set, the
    corpus never shuffles for the probe) and verify when the edit
    distance is <= 30% of the probe length. Per-source report of
    flagged docs / verified pairs / closest distance — all exact
    integers, so every distance hash-checks against the oracle."""
    from rocketmq_flink_spark.operators.contamination import (
        fuzzy_contamination,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    bench = docs.where(F.col("doc_id") % 11 == 0)
    targets = docs.where(F.col("doc_id") % 11 != 0)
    hits = fuzzy_contamination(targets, bench, "doc_id", "text")
    return (
        hits.join(
            load_tables(spark, sf_dir)["documents"].select(
                "doc_id", "source"
            ),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_flagged_docs"),
            F.count(F.lit(1)).alias("n_hits"),
            F.min("dist").alias("min_dist"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-3 additions: deterministic corpus shuffle, dedup graph statistics
# and quantized ANN (product and scalar quantization).
# ---------------------------------------------------------------------------


from rocketmq_flink_spark.functions.porthash import hash60_sql as _h60sql

_SHUFFLE_H = _h60sql("CAST(doc_id AS VARCHAR)")


@query(
    "deterministic_corpus_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             {_SHUFFLE_H} AS hk
      FROM documents
    ),
    ord AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) - 1 AS pos
      FROM h
    )
    SELECT CAST(pos // 50 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc
    FROM ord GROUP BY 1 ORDER BY 1
    """,
)
def deterministic_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pre-training corpus shuffle: documents permuted by
    the portable 60-bit hash of their id (a stable pseudo-random order
    — same shards every rerun, no RNG state to checkpoint) and cut
    into fixed-size shards; per-shard source mix proves the shuffle
    interleaves sources. A training-data pipeline runs exactly this
    before sequence packing so batches are not source-correlated.
    Scale: shard positions come from the EXACT distributed rank
    (operators/ranking.py) — deterministic range buckets on the 60-bit
    hash (uniform by construction), bucket-local sorts, offset join —
    never a single-partition window; the permutation costs one
    bucket-partitioned sort on an 8-byte key, which is what any corpus
    shuffle costs."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.ranking import distributed_prefix

    docs = load_tables(spark, sf_dir)["documents"]
    h = docs.select(
        "doc_id", "source",
        hash60(F.col("doc_id").cast("string")).alias("hk"),
    )
    ordered = distributed_prefix(
        h, ["hk", "doc_id"], "hk", pos_col="rn"
    ).withColumn("pos", F.col("rn") - 1)
    return (
        ordered.groupBy(
            F.expr("CAST(pos DIV 50 AS BIGINT)").alias("shard")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("shard")
    )


@query(
    "dedup_graph_stats",
    None,  # oracle attached below (wraps the minhash closure replay)
)
def dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph analytics: the component-size histogram of the
    transitive MinHash dedup graph — the number a dedup pipeline
    monitors to catch both under-merging (all singletons) and
    pathological over-merging (one giant component from a boilerplate
    shingle). Derived entirely from minhash_dedup's components (one
    count aggregation on top); the oracle wraps the full recursive-CTE
    closure replay, so the histogram is hash-checked end to end."""
    from rocketmq_flink_spark.operators.dedup import minhash_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    comp = minhash_dedup(docs, "doc_id", "text", threshold=0.7)
    sizes = comp.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return (
        sizes.groupBy("component_size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .select(
            "component_size",
            "n_components",
            (F.col("component_size") * F.col("n_components")).alias(
                "n_docs"
            ),
        )
        .orderBy("component_size")
    )


REGISTRY["dedup_graph_stats"].oracle = f"""
    WITH sizes AS (
      SELECT rep_id, COUNT(*) AS component_size
      FROM ( {_minhash_oracle_sql()} ) base
      GROUP BY rep_id
    )
    SELECT component_size, COUNT(*) AS n_components,
           CAST(component_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1 ORDER BY 1
"""


def _pq_oracle_sql(m: int = 8, d: int = 8, k: int = 16,
                   shortlist: int = 50, topk: int = 5) -> str:
    """Standalone PQ oracle: the shared CTE chain + final top-k rank."""
    return f"""
    WITH allv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_pq_ctes_sql(m, d, k, shortlist).strip().rstrip()}
    SELECT qid, vec_id, dist2, rank FROM (
      SELECT qid, vec_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist2, vec_id) AS rank
      FROM pq_rer)
    WHERE rank <= {topk}
    ORDER BY qid, rank
    """


@query("pq_ann_topk", _pq_oracle_sql())
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN, full production shape: per-subspace
    k-means codebooks (deterministic seeded Lloyd), 4-byte corpus
    codes, exact-DECIMAL ADC lookup-table scoring, shortlist-50, then
    full-precision decimal re-rank to top-5 (recall@5 = 0.65 on the
    natural corpus — on par with the LSH/IVF indexes, at 1/64th the
    vector memory). The oracle retrains all 8 codebooks from scratch
    in chained SQL CTEs and replays encode -> ADC -> shortlist ->
    re-rank, so a hash match proves the entire pipeline. Scale: codes
    are 4 B/vector (billion-scale in-memory), the LUT is
    queries x m x k rows (broadcast), and only shortlist rows ever
    touch full-precision vectors."""
    from rocketmq_flink_spark.operators.similarity import pq_topk_rerank

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") < 8)
    return pq_topk_rerank(q, emb, k=5, shortlist=50).orderBy("qid", "rank")


def _sq8_oracle_sql(shortlist: int = 50, topk: int = 5) -> str:
    """DuckDB replay of the full SQ8 pipeline: decimal-tick integer
    quantization, HUGEINT approximate distances, shortlist, exact
    decimal re-rank. Every intermediate is exact integer/decimal, so
    the match is bit-for-bit."""
    return f"""
    WITH tq AS (
      SELECT vec_id,
             list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS t
      FROM embeddings),
    mx AS (
      SELECT vec_id, t,
             list_max(list_transform(t, x -> abs(x))) AS tmax
      FROM tq),
    qs AS (
      SELECT vec_id,
             list_transform(t, x -> CASE WHEN tmax = 0 THEN 0
               ELSE ((CASE WHEN x >= 0 THEN 1 ELSE -1 END)
                     * ((abs(x) * 254 + tmax) // (2 * tmax))) * tmax
               END) AS qs
      FROM mx),
    appr AS (
      SELECT qu.vec_id AS qid, c.vec_id,
             list_sum(list_transform(list_zip(c.qs, qu.qs),
               p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2]))) AS adist
      FROM qs c JOIN qs qu
        ON qu.vec_id < 8 AND c.vec_id <> qu.vec_id),
    short AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS rn
        FROM appr)
      WHERE rn <= {shortlist}),
    dv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS d
      FROM embeddings),
    rer AS (
      SELECT s.qid, s.vec_id,
             CAST(ROUND(list_sum(list_transform(list_zip(q.d, e.d),
               p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE) AS dist2
      FROM short s
      JOIN dv q ON q.vec_id = s.qid
      JOIN dv e ON e.vec_id = s.vec_id)
    SELECT qid, vec_id, dist2, rank FROM (
      SELECT qid, vec_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist2, vec_id) AS rank
      FROM rer)
    WHERE rank <= {topk}
    ORDER BY qid, rank
    """


@query("sq8_ann_topk", _sq8_oracle_sql())
def sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8 / int8) ANN, two-stage production shape:
    integer-exact approximate L2 on 8-bit codes shortlists 50
    candidates per query, then exact decimal re-rank to top-5 —
    completing the ANN index family (LSH / IVF / PQ / SQ8). The
    quantizer lands floats on the DECIMAL(12,10) tick grid first, so
    code assignment AND approximate distances are pure BIGINT/HUGEINT
    arithmetic — the oracle replays quantize -> approx -> shortlist ->
    re-rank bit-for-bit. Scale: 4x vector-memory cut (64 int8 + one
    scale vs 64 float32); only shortlist rows touch full vectors.
    See operators/similarity.py sq8_topk_rerank for the 100 TB notes."""
    from rocketmq_flink_spark.operators.similarity import sq8_topk_rerank

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.where(F.col("vec_id") < 8)
    return sq8_topk_rerank(q, emb, k=5, shortlist=50).orderBy("qid", "rank")


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup): cluster-then-pairwise over embeddings.
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle_sql() -> str:
    """DuckDB replay of the FULL semantic-dedup pipeline on the planted
    corpus: k-means retrained from scratch (portable-hash init + two
    Lloyd steps, shared _lloyd_step_sql generator), argmin cell
    assignment, within-cluster decimal-cosine pairs, keep-lowest-id."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH planted AS (
      SELECT vec_id + 20000 AS vec_id,
             list_prepend(CAST(embedding[1] + CAST(0.001 AS FLOAT) AS FLOAT),
                          embedding[2:]) AS embedding
      FROM embeddings WHERE vec_id < 15
    ),
    corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT vec_id, embedding FROM planted
    ),
    allv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM corpus),
    dv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10))) AS d
      FROM corpus),
    cents0 AS (
      SELECT cid, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cid,
               v AS cv
        FROM allv)
      WHERE cid < 32),
    {_lloyd_step_sql('cents0', 1)},
    {_lloyd_step_sql('cents1', 2)},
    cell AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(c.cv, x -> x*x))
                 - 2 * list_sum(list_transform(list_zip(e.v, c.cv),
                                               z -> z[1]*z[2])),
                 c.cid) AS rn
        FROM allv e CROSS JOIN cents2 c)
      WHERE rn = 1),
    n2 AS (
      SELECT vec_id,
             CAST(ROUND(list_sum(list_transform(d, x -> x*x)), 12)
                  AS DOUBLE) AS n2
      FROM dv),
    pairs AS (
      SELECT ca.cid, a.vec_id AS id_keep, b.vec_id AS id_drop,
             CAST(ROUND(list_sum(list_transform(list_zip(a.d, b.d),
                                                p -> p[1]*p[2])), 12)
                  AS DOUBLE)
               / (sqrt(na.n2) * sqrt(nb.n2)) AS cos_sim
      FROM cell ca JOIN cell cb ON ca.cid = cb.cid
                                AND ca.vec_id < cb.vec_id
      JOIN dv a ON a.vec_id = ca.vec_id
      JOIN dv b ON b.vec_id = cb.vec_id
      JOIN n2 na ON na.vec_id = ca.vec_id
      JOIN n2 nb ON nb.vec_id = cb.vec_id),
    qual AS (SELECT * FROM pairs WHERE cos_sim >= 0.95)
    SELECT id_drop AS vec_id, cid, id_keep AS kept_id,
           ROUND(cos_sim, 12) AS cos_sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id_drop
                                   ORDER BY id_keep) AS rn
      FROM qual)
    WHERE rn = 1
    ORDER BY vec_id
    """


@query("semantic_dedup_drops", _semantic_dedup_oracle_sql())
def semantic_dedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup) over the embedding corpus with 15
    planted near-copies (vec_id+20000, one float dim perturbed): each
    copy lands in its original's cluster and must be dropped in favor
    of the lower-id original — planted ground truth, the strongest
    check a cluster-pruned pairwise operator admits (natural max
    pairwise cosine in this corpus is 0.51, so exactly the planted
    set is dropped). The oracle retrains the same k-means index in
    chained SQL CTEs and replays assignment, decimal-cosine pairing
    and the keep-lowest-id policy — a hash match proves the entire
    pipeline, not just the final count. See
    operators/similarity.semantic_dedup for the 100 TB design."""
    from rocketmq_flink_spark.operators.similarity import semantic_dedup

    emb = load_tables(spark, sf_dir)["embeddings"]
    planted = emb.where(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.expr(
            "concat(array(CAST(embedding[0] + CAST(0.001 AS FLOAT) AS FLOAT)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").union(planted)
    return semantic_dedup(
        corpus, "vec_id", "embedding", n_centroids=32, iters=2,
        threshold=0.95,
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: sketch-based benchmark membership.
# ---------------------------------------------------------------------------


def _bloom_decon_oracle_sql() -> str:
    from rocketmq_flink_spark.operators.sketches import (
        BLOOM_K,
        bloom_positions_sql,
        bloom_words_sql,
    )

    words = bloom_words_sql("sh", "FROM bg", m=1 << 16)
    pos = bloom_positions_sql("sh", m=1 << 16)
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, unnest({_GRAMS5_DUCK}) AS sh
      FROM t WHERE doc_id % 97 <> 0
    ),
    bg AS (
      SELECT DISTINCT sh FROM (
        SELECT unnest({_GRAMS5_DUCK}) AS sh FROM t WHERE doc_id % 97 = 0)
    ),
    bloom AS ({words}),
    pp AS (
      SELECT doc_id, sh, unnest({pos}) AS pos FROM g
    ),
    ph AS (
      SELECT doc_id, sh,
             SUM(CASE WHEN (COALESCE(b.bits, 0)
                            >> CAST(pos & 31 AS INTEGER)) & 1 = 1
                      THEN 1 ELSE 0 END) AS hits
      FROM pp LEFT JOIN bloom b ON b.word = pos >> 5
      GROUP BY doc_id, sh
    ),
    perdoc AS (
      SELECT g2.doc_id,
             MAX(CASE WHEN ph.hits = {BLOOM_K} THEN 1 ELSE 0 END) AS bf,
             MAX(CASE WHEN bg.sh IS NOT NULL THEN 1 ELSE 0 END) AS ef
      FROM g g2
      JOIN ph ON ph.doc_id = g2.doc_id AND ph.sh = g2.sh
      LEFT JOIN bg ON bg.sh = g2.sh
      GROUP BY g2.doc_id
    )
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(p.bf) AS BIGINT) AS bloom_flagged,
           CAST(SUM(p.ef) AS BIGINT) AS exact_flagged,
           CAST(SUM(p.bf) - SUM(p.ef) AS BIGINT) AS bloom_fp
    FROM perdoc p JOIN (SELECT DISTINCT doc_id, source FROM documents) d
      USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """


@query("bloom_decontamination", _bloom_decon_oracle_sql())
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based benchmark decontamination: the held-out docs'
    (doc_id%97==0) distinct 5-grams are folded into a 64 Kbit / k=4
    Bloom filter (8 KB of (word, bits) rows), and every corpus document
    is flagged when ANY of its grams hits all k bits. Reported per
    source next to the EXACT broadcast-set overlap: bloom_flagged >=
    exact_flagged always (Bloom admits no false negatives), and
    bloom_fp quantifies the price of the 8 KB footprint. At 100 TB the
    exact gram set of a big benchmark suite is GBs to broadcast; the
    Bloom filter is KBs at a chosen FP rate (size m ~ 1.44 * n *
    log2(1/fp) bits), merges across shards by word-wise OR, and the
    probe stays a map-side broadcast join. Every bit position comes
    from the portable hash family, so the oracle rebuilds the identical
    filter and replays every membership test bit-for-bit."""
    from rocketmq_flink_spark.operators.dedup import exploded_shingles
    from rocketmq_flink_spark.operators.sketches import (
        bloom_build,
        bloom_filter_words,
        with_bloom_hit,
    )

    m = 1 << 16
    docs = load_tables(spark, sf_dir)["documents"]
    bench = docs.where(F.col("doc_id") % 97 == 0)
    targets = docs.where(F.col("doc_id") % 97 != 0)
    bench_grams = (
        exploded_shingles(bench, "doc_id", "text", k=5)
        .select("sh")
        .distinct()
    )
    # The 8 KB filter is a model artifact: collect once, inline as a
    # constant-folded literal — the probe is then a pure map expression
    # (no join, no per-gram shuffle); only the per-doc flag aggregates.
    words = bloom_filter_words(bloom_build(bench_grams, F.col("sh"), m=m), m)
    tg = exploded_shingles(targets, "doc_id", "text", k=5)
    # ONE pass over the gram stream: the Bloom probe is a scalar
    # expression and the exact-membership flag a broadcast left join,
    # so the only shuffle on the corpus side is the per-doc flag agg.
    per_doc = (
        with_bloom_hit(tg, "sh", words, m=m)
        .join(
            F.broadcast(bench_grams.withColumn("ef", F.lit(1))), "sh", "left"
        )
        .groupBy("doc")
        .agg(
            F.max(F.col("bloom_hit").cast("int")).alias("bf"),
            F.max(F.coalesce(F.col("ef"), F.lit(0))).alias("ef"),
        )
    )
    return (
        per_doc.join(
            docs.select(F.col("doc_id").alias("doc"), "source"), "doc"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bf").alias("bloom_flagged"),
            F.sum("ef").alias("exact_flagged"),
            (F.sum("bf") - F.sum("ef")).alias("bloom_fp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Distribution drift monitoring: token-frequency shift between corpus slices.
# ---------------------------------------------------------------------------


@query(
    "token_drift_report",
    f"""
    WITH tk AS (
      SELECT doc_id % 2 AS half, tok
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array({_NORM_SQL_DUCK},
                          '\\s+')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    c AS (
      SELECT tok,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_old,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_new
      FROM tk GROUP BY tok
    ),
    n AS (
      SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
             CAST(SUM(c_new) AS BIGINT) AS n_new
      FROM c
    ),
    d AS (
      SELECT c.tok, c.c_old, c.c_new,
             ABS(c.c_old * n.n_new - c.c_new * n.n_old) AS drift_scaled
      FROM c CROSS JOIN n
    ),
    tv AS (
      SELECT ROUND(CAST(SUM(d.drift_scaled) AS DOUBLE)
                   / (2.0 * n.n_old * n.n_new), 9) AS tv_dist,
             CAST(SUM(CASE WHEN d.c_old = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_tokens,
             CAST(SUM(CASE WHEN d.c_new = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lost_tokens
      FROM d CROSS JOIN n GROUP BY n.n_old, n.n_new
    )
    SELECT d.tok, d.c_old, d.c_new, d.drift_scaled,
           tv.tv_dist, tv.n_new_tokens, tv.n_lost_tokens
    FROM d CROSS JOIN tv
    ORDER BY d.drift_scaled DESC, d.tok LIMIT 15
    """,
)
def token_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus slices (here the
    doc_id-parity halves standing in for yesterday/today): exact
    total-variation distance between the token frequency distributions
    plus the 15 most-drifted tokens and new/lost vocabulary counts —
    the dataset-shift alarm a continuously-ingesting training pipeline
    watches. All drift scores are cross-multiplied EXACT integers
    (|c_old*N_new - c_new*N_old|; one double division at the end), so
    the result is order-independent and hash-checks. Scale: one
    tokenize pass, one map-side-combined (token, half) count, a
    broadcast of the two scalar totals, TakeOrdered top-k; counts at
    web scale need DECIMAL cross-products (docstring'd limit: products
    stay < 2^63 up to ~3e9 tokens per slice)."""
    docs = load_tables(spark, sf_dir)["documents"]
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    tk = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(
                F.split(F.expr(normalize_sql("text")), r"\s+")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    c = tk.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c_old"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c_new"),
    )
    n = c.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    d = c.crossJoin(F.broadcast(n)).withColumn(
        "drift_scaled",
        F.abs(F.col("c_old") * F.col("n_new") - F.col("c_new") * F.col("n_old")),
    )
    tv = d.groupBy("n_old", "n_new").agg(
        F.round(
            F.sum("drift_scaled").cast("double")
            / (2.0 * F.col("n_old") * F.col("n_new")),
            9,
        ).alias("tv_dist"),
        F.sum(F.when(F.col("c_old") == 0, 1).otherwise(0)).alias(
            "n_new_tokens"
        ),
        F.sum(F.when(F.col("c_new") == 0, 1).otherwise(0)).alias(
            "n_lost_tokens"
        ),
    ).select("tv_dist", "n_new_tokens", "n_lost_tokens")
    return (
        d.select("tok", "c_old", "c_new", "drift_scaled")
        .crossJoin(F.broadcast(tv))
        .orderBy(F.desc("drift_scaled"), "tok")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch: the order-statistics member of the sketch trio.
# ---------------------------------------------------------------------------


@query(
    "histogram_quantiles_events",
    """
    WITH st AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ),
    b AS (
      SELECT event_type, event_id % 2 AS shard,
             LEAST(GREATEST(CAST(FLOOR((value - st.lo) * 256
                                        / (st.hi - st.lo)) AS INTEGER),
                            0), 255) AS bin
      FROM events CROSS JOIN st WHERE value IS NOT NULL
    ),
    hist AS (
      SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ),
    hist_sh AS (
      SELECT event_type, shard, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT event_type, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM hist_sh GROUP BY 1, 2
    ),
    q AS (
      SELECT event_type,
             MAX(n) AS n_rows,
             MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50,
             MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS b95,
             MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99
      FROM (SELECT event_type, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM hist)
      GROUP BY event_type
    ),
    qm AS (
      SELECT event_type,
             MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS b95m
      FROM (SELECT event_type, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM merged)
      GROUP BY event_type
    )
    SELECT q.event_type, CAST(q.n_rows AS BIGINT) AS n_rows,
           ROUND(st.lo + (q.b50 + 0.5) * (st.hi - st.lo) / 256, 6) AS p50_est,
           ROUND(st.lo + (q.b95 + 0.5) * (st.hi - st.lo) / 256, 6) AS p95_est,
           ROUND(st.lo + (q.b99 + 0.5) * (st.hi - st.lo) / 256, 6) AS p99_est,
           q.b95 = qm.b95m AS merge_ok
    FROM q JOIN qm USING (event_type) CROSS JOIN st
    ORDER BY q.event_type
    """,
)
def histogram_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch over event values: 256
    equi-width bins per event type, p50/p95/p99 estimated as the first
    bin whose EXACT-integer cumulative count reaches ceil(q*N), PLUS
    the merge proof — the same data sketched in two event-id shards and
    combined by bin-wise count sum must place p95 in the identical bin
    (the rollup property that lets per-partition/per-day histograms
    combine at cluster scale without re-reading data). Completes the
    sketch trio next to HLL (cardinality) and Count-Min (frequency).
    Bin assignment is plain IEEE double arithmetic and everything after
    it BIGINT, so the estimates hash-check bit-for-bit. Error is
    bounded by one bin width ((hi-lo)/256) by construction. See
    operators/sketches.hist_bins / hist_quantiles."""
    from rocketmq_flink_spark.operators.sketches import (
        hist_bins,
        hist_quantiles,
    )

    ev = load_tables(spark, sf_dir)["events"]
    st = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    base = ev.crossJoin(F.broadcast(st))
    lo, hi = F.col("lo"), F.col("hi")
    hist = hist_bins(base, F.col("value"), ["event_type", "lo", "hi"], lo, hi)
    q = hist_quantiles(hist, ["event_type", "lo", "hi"], lo, hi)
    hist_sh = hist_bins(
        base.withColumn("shard", F.col("event_id") % 2),
        F.col("value"),
        ["event_type", "shard", "lo", "hi"],
        lo,
        hi,
    )
    merged = hist_sh.groupBy("event_type", "lo", "hi", "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    qm = hist_quantiles(
        merged, ["event_type", "lo", "hi"], lo, hi, quantiles=[("p95", 95, 100)]
    ).select("event_type", F.col("p95_bin").alias("b95m"))
    return (
        q.join(qm, "event_type")
        .select(
            "event_type",
            F.col("n_rows").cast("long").alias("n_rows"),
            "p50_est",
            "p95_est",
            "p99_est",
            (F.col("p95_bin") == F.col("b95m")).alias("merge_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: filtered kNN for contrastive training data.
# ---------------------------------------------------------------------------


@query(
    "hard_negatives_topk",
    """
    WITH q AS (SELECT vec_id AS qid, label AS q_label,
                      list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))
                        AS qv
               FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id, label AS neg_label,
                      list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))
                        AS cv
               FROM embeddings),
    scored AS (
      SELECT qid, q_label, vec_id, neg_label,
             CAST(ROUND(list_sum(list_transform(list_zip(qv, cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE) AS dist2
      FROM q, c WHERE neg_label <> q_label
    )
    SELECT qid, q_label, vec_id, neg_label, dist2, rank FROM (
      SELECT qid, q_label, vec_id, neg_label, dist2,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist2, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY qid, rank
    """,
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: the 5 nearest DIFFERENT-label vectors per
    query — the contrastive-training mining step. Exact decimal L2, so
    every rank hash-checks; queries broadcast, per-query bounded
    window. See operators/similarity.hard_negatives for the
    ANN-shortlist composition at corpus scale."""
    from rocketmq_flink_spark.operators.similarity import hard_negatives

    emb = load_tables(spark, sf_dir)["embeddings"]
    return hard_negatives(
        emb.where(F.col("vec_id") < 8), emb, k=5
    ).orderBy("qid", "rank")


# ---------------------------------------------------------------------------
# Real media content decode: PPM pixels + WAV PCM samples (stdlib-only).
# ---------------------------------------------------------------------------


@query(
    "media_pixel_features",
    """
    WITH ids AS (SELECT doc_id AS media_id FROM documents
                 WHERE doc_id < 24),
    ppm AS (SELECT media_id, 16 + (media_id % 5) * 4 AS w,
                   12 + (media_id % 3) * 4 AS h
            FROM ids WHERE media_id % 2 = 0),
    px AS (
      SELECT p.media_id, p.w, p.h, y.g AS y, x.g AS x,
             (p.media_id * 7 + y.g * 3 + x.g * 5) % 256 AS r,
             (p.media_id * 7 + y.g * 3 + x.g * 5 + 11) % 256 AS g2,
             (p.media_id * 7 + y.g * 3 + x.g * 5 + 22) % 256 AS b
      FROM ppm p, range(40) y(g), range(40) x(g)
      WHERE y.g < p.h AND x.g < p.w),
    pstats AS (
      SELECT media_id,
             CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
             CAST(SUM(r) AS BIGINT) AS sum_r,
             CAST(SUM(g2) AS BIGINT) AS sum_g,
             CAST(SUM(b) AS BIGINT) AS sum_b,
             CAST(CEIL(MAX(w) / 2.0) AS INT) AS rs_width,
             CAST(SUM(CASE WHEN y % 2 = 0 AND x % 2 = 0 THEN r END)
                  AS BIGINT) AS rs_sum_r
      FROM px GROUP BY media_id),
    wav AS (SELECT media_id, 1000 + media_id * 10 AS nf
            FROM ids WHERE media_id % 2 = 1),
    ws AS (
      SELECT w.media_id,
             ((w.media_id * 31 + i.g * 17) % 65536) - 32768 AS s
      FROM wav w, range(1300) i(g) WHERE i.g < w.nf),
    wstats AS (
      SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(s * s) AS BIGINT) AS sum_sq,
             CAST(MAX(ABS(s)) AS INT) AS peak
      FROM ws GROUP BY media_id)
    SELECT i.media_id,
           CASE WHEN i.media_id % 2 = 1 THEN 'wav'
                WHEN i.media_id % 4 = 2 THEN 'bmp'
                ELSE 'ppm' END AS fmt,
           p.width, p.height, p.sum_r, p.sum_g, p.sum_b,
           p.rs_width, p.rs_sum_r,
           w.n_samples, w.sum_sq, w.peak
    FROM ids i LEFT JOIN pstats p USING (media_id)
               LEFT JOIN wstats w USING (media_id)
    ORDER BY i.media_id
    """,
)
def media_pixel_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media content decode, end to end and library-free: PPM
    payloads (raw RGB after a text header) and BMP payloads (BGR
    bottom-up padded-row DIBs, ids % 4 == 2 since r6) are
    pixel-decoded, genuinely nearest-neighbor-resized and re-encoded;
    WAV payloads (raw PCM16 after the RIFF chunks) are sample-decoded —
    numpy frombuffer IS the full decoder for these containers, so
    nothing here is a stub. The payloads carry one deterministic
    pattern (pixel = (7*id+3y+5x+11c) mod 256; sample =
    ((31*id+17*i) mod 65536)-32768), and every emitted feature is an
    exact integer sum, so the oracle REGENERATES the same
    pixels/samples with range() arithmetic and hash-checks
    decode -> resize -> aggregate bit-for-bit across ALL THREE
    container layouts with one formula. Scale: synthesis and decode
    are one Arrow hop each, payloads never touch the driver."""
    from rocketmq_flink_spark.operators.multimodal import (
        encode_bmp_pattern,
        encode_ppm_pattern,
        encode_wav_pattern,
        media_pixel_features,
    )
    import pandas as pd_mod

    ids = (
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id") < 24)
        .select(F.col("doc_id").alias("media_id"))
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid % 2 == 0:
                    enc = encode_bmp_pattern if mid % 4 == 2 else (
                        encode_ppm_pattern
                    )
                    payload = enc(
                        mid, 16 + (mid % 5) * 4, 12 + (mid % 3) * 4
                    )
                    mt = (
                        "image/bmp" if mid % 4 == 2
                        else "image/x-portable-pixmap"
                    )
                else:
                    payload = encode_wav_pattern(mid, 8000, 1000 + mid * 10)
                    mt = "audio/wav"
                rows.append(
                    {
                        "media_id": mid, "media_type": mt,
                        "payload": payload, "meta": {"origin": "synthetic"},
                    }
                )
            yield pd_mod.DataFrame(rows)

    from rocketmq_flink_spark.operators.multimodal import MEDIA_SCHEMA

    media = ids.mapInPandas(synth, schema=MEDIA_SCHEMA)
    return media_pixel_features(media, resize_factor=2).orderBy("media_id")


# ---------------------------------------------------------------------------
# Leakage-safe train/validation split: near-dup groups never straddle.
# ---------------------------------------------------------------------------


def _leakage_split_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h_rep = hash60_sql("CAST(rep_id AS VARCHAR)")
    h_doc = hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH RECURSIVE {_minhash_rep_ctes()},
    lab AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(r.m, d.doc_id)) AS rep_id
      FROM documents d LEFT JOIN rep r ON r.doc_id = d.doc_id),
    sp AS (
      SELECT doc_id, rep_id,
             CASE WHEN {h_rep} % 10 < 9 THEN 'train' ELSE 'val' END
               AS split,
             CASE WHEN {h_doc} % 10 < 9 THEN 'train' ELSE 'val' END
               AS naive_split
      FROM lab),
    leaks AS (
      SELECT
        (SELECT COUNT(*) FROM (
           SELECT rep_id FROM sp GROUP BY rep_id
           HAVING COUNT(DISTINCT split) > 1)) AS safe_leaks,
        (SELECT COUNT(*) FROM (
           SELECT rep_id FROM sp GROUP BY rep_id
           HAVING COUNT(DISTINCT naive_split) > 1)) AS naive_leaks)
    SELECT sp.split, COUNT(*) AS n_docs,
           COUNT(DISTINCT sp.rep_id) AS n_components,
           CAST(l.safe_leaks AS BIGINT) AS safe_leaks,
           CAST(l.naive_leaks AS BIGINT) AS naive_leaks
    FROM sp CROSS JOIN leaks l
    GROUP BY sp.split, l.safe_leaks, l.naive_leaks
    ORDER BY sp.split
    """


@query("leakage_safe_split", _leakage_split_oracle_sql())
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation split that cannot leak near-duplicates across
    the boundary: documents are first collapsed to their TRANSITIVE
    MinHash near-dup component, the portable hash of the component
    REPRESENTATIVE (not the document) picks the side, and every member
    follows its representative — so a test document can never have a
    near-copy in training data, the leakage failure naive per-doc
    hash splits routinely commit. The report shows both: safe_leaks
    (components straddling the rep-based split — structurally 0) next
    to naive_leaks (components a per-doc hash split would straddle).
    Fully hash-checked: the oracle replays the whole MinHash closure
    (recursive CTE) plus both split assignments. Scale: one extra
    8-byte hash on the component label on top of the dedup pipeline;
    the split is stable under corpus growth because it keys on content
    hashes, not row order."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.dedup import minhash_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    lab = minhash_dedup(docs, "doc_id", "text", threshold=0.7).select(
        "doc_id", "rep_id"
    )
    sp = lab.select(
        "doc_id",
        "rep_id",
        F.when(hash60(F.col("rep_id").cast("string")) % 10 < 9, "train")
        .otherwise("val")
        .alias("split"),
        F.when(hash60(F.col("doc_id").cast("string")) % 10 < 9, "train")
        .otherwise("val")
        .alias("naive_split"),
    # deliberately NOT lineage-cut despite the two consumers: the
    # minhash closure already checkpoints per round internally, so the
    # re-run from the last internal cut is cheap (exec 1.14 -> 1.08 s,
    # a wash), while a cut here forces eager physical planning of the
    # whole closure tree at build time (measured 6.5 -> 21.6 s driver
    # cost; optimization r08 A/B)
    )
    leaks = sp.groupBy("rep_id").agg(
        F.count_distinct("split").alias("ns"),
        F.count_distinct("naive_split").alias("nn"),
    ).agg(
        F.sum((F.col("ns") > 1).cast("long")).alias("safe_leaks"),
        F.sum((F.col("nn") > 1).cast("long")).alias("naive_leaks"),
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("rep_id").alias("n_components"),
        )
        .crossJoin(F.broadcast(leaks))
        .select(
            "split", "n_docs", "n_components", "safe_leaks", "naive_leaks"
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation + event-rate anomaly monitoring.
# ---------------------------------------------------------------------------


@query(
    "snapshot_diff_report",
    f"""
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 5 <> 0
    ),
    j AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h = n.h THEN 'same'
                  ELSE 'changed' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM j GROUP BY status ORDER BY status
    """,
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot reconciliation: yesterday's snapshot (doc_id%7
    drop-out) vs today's (doc_id%5 drop-out, every 11th doc revised) —
    per-status document counts (added / removed / same / changed) with
    id ranges. Content equality is md5-hash-based, computed map-side:
    the full-outer join shuffles (id, hash) pairs only, never text —
    the shape that keeps snapshot audits affordable between every
    ingest cycle at 100 TB. See operators/pipeline.snapshot_diff."""
    from rocketmq_flink_spark.operators.pipeline import snapshot_diff

    docs = load_tables(spark, sf_dir)["documents"]
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    d = snapshot_diff(old, new, "doc_id", "text")
    return (
        d.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("status")
    )


@query(
    "event_rate_anomalies",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS ss
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hr, CAST(h.n AS BIGINT) AS n,
           CAST(h.n * st.n_hours - st.s AS BIGINT) AS dev_scaled,
           CAST(st.n_hours * st.ss - st.s * st.s AS BIGINT) AS var_scaled
    FROM hourly h JOIN stats st USING (event_type)
    WHERE st.n_hours >= 3
      AND (h.n * st.n_hours - st.s) * (h.n * st.n_hours - st.s)
          > 9 * (st.n_hours * st.ss - st.s * st.s)
    ORDER BY h.event_type, h.hr
    """,
)
def event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly monitor: hourly counts per event type flagged
    when they deviate more than 3 sigma from that type's mean hourly
    rate — entirely in EXACT cross-multiplied integer arithmetic
    ((n*H - S)^2 > 9*(H*SS - S^2), i.e. (n-mean)^2 > 9*variance scaled
    by H^2), so the flag decision is bit-deterministic with no
    floating-point variance in sight. Two map-side-combined
    aggregations (hourly counts, per-type moment sums) and one
    broadcast-sized join — the always-on stream-health alarm. Emits
    the anomalous hours with their scaled deviation and variance."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    dev = F.col("n") * F.col("n_hours") - F.col("s")
    var = F.col("n_hours") * F.col("ss") - F.col("s") * F.col("s")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.col("n_hours") >= 3)
        .where(dev * dev > 9 * var)
        .select(
            "event_type",
            "hr",
            F.col("n").cast("long").alias("n"),
            dev.cast("long").alias("dev_scaled"),
            var.cast("long").alias("var_scaled"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# Round-3 additions (continued): line-level dedup, collocation mining,
# BPE training, typo mining, stream dedup
# ---------------------------------------------------------------------------


def _line_dedup_oracle_sql(words_per_line: int = 10, min_docs: int = 2) -> str:
    """DuckDB replay of line_dedup over documents re-chunked into
    pseudo-lines of words_per_line words (the fixture has no newlines;
    aligned chunks DO repeat across docs, so the removal is
    non-vacuous). Identical hash60 line keys, identical rebuild."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    w = words_per_line
    h = hash60_sql("trim(line)")
    return f"""
    WITH lined AS (
      SELECT doc_id,
             array_to_string(list_transform(
               range(0, CAST(ceil(len(arr) / {w}.0) AS INT)),
               i -> array_to_string(arr[i*{w}+1:i*{w}+{w}], ' ')),
               chr(10)) AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
    ),
    lines AS (
      SELECT doc_id, i AS pos, ls[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
           unnest(range(1, len(ls) + 1)) AS t(i)
    ),
    hot AS (
      SELECT hh FROM (
        SELECT {h} AS hh, doc_id FROM lines WHERE trim(line) <> ''
        GROUP BY 1, 2)
      GROUP BY hh HAVING COUNT(*) >= {min_docs}
    ),
    kept AS (
      SELECT * FROM lines WHERE {h} NOT IN (SELECT hh FROM hot)
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines,
           t.n_lines - COALESCE(r.n_kept, 0) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot t LEFT JOIN reb r USING (doc_id)
    ORDER BY t.doc_id
    """


@query("line_dedup_docs", _line_dedup_oracle_sql())
def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (Falcon/RefinedWeb line dedup):
    every line appearing verbatim in >= 2 distinct documents is
    stripped from ALL of them, documents reassembled in original line
    order. The fixture's texts are single-line, so the query first
    re-chunks each document into 10-word pseudo-lines (deterministic,
    replayed by the oracle) — 127 chunk values are shared across docs
    at sf0.01, so the removal path is exercised for real. The full
    cleaned text is part of the hash-checked output. Scale notes:
    operators/dedup.py line_dedup (8-byte portable line hashes in
    every shuffle; hot-line count map-side combined; one rebuild
    shuffle keyed by doc)."""
    from rocketmq_flink_spark.operators.dedup import line_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    lined = docs.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id",
        F.expr(
            "array_join(transform("
            " sequence(0, greatest(CAST(ceil(size(_toks) / 10.0) AS INT) - 1, 0)),"
            " i -> array_join(slice(_toks, i*10 + 1, 10), ' ')), '\n')"
        ).alias("text"),
    )
    return (
        line_dedup(lined, "doc_id", "text", min_docs=2)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    )


@query(
    "pmi_collocations",
    f"""
    WITH t AS (
      SELECT regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
      FROM documents
    ),
    u AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(arr) AS w FROM t) GROUP BY w
    ),
    big AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM (
        SELECT arr[i] AS w1, arr[i + 1] AS w2
        FROM t, unnest(range(1, len(arr))) AS s(i)
      ) GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM u) AS n_tok,
             (SELECT CAST(SUM(c12) AS BIGINT) FROM big) AS m_big
    )
    SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
           ROUND(((CAST(b.c12 AS DOUBLE) * CAST(n_tok AS DOUBLE))
                   * CAST(n_tok AS DOUBLE))
                 / ((CAST(m_big AS DOUBLE) * CAST(u1.c AS DOUBLE))
                    * CAST(u2.c AS DOUBLE)), 6) AS lift
    FROM big b
    JOIN u u1 ON u1.w = b.w1
    JOIN u u2 ON u2.w = b.w2
    CROSS JOIN tot
    WHERE b.c12 >= 5
    ORDER BY lift DESC, b.w1, b.w2 LIMIT 20
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by PMI lift (exp(PMI) — same
    ranking, no libm log): the phrase-mining table a tokenizer or
    embedding pipeline reads to decide which pairs become one token.
    Counts are exact BIGINTs; the lift is a fixed-order IEEE double
    chain, bit-identical across engines. Scale notes:
    operators/text.py pmi_collocations (aggregate-first, vocab-bounded
    joins, TakeOrdered top-k)."""
    from rocketmq_flink_spark.operators.text import pmi_collocations as _pmi

    docs = load_tables(spark, sf_dir)["documents"]
    return _pmi(docs, "text", min_count=5, k=20)


def _bpe_stages_sql(steps: int = 6) -> str:
    """Shared staged-CTE prefix replaying `steps` BPE iterations in
    DuckDB, ending with v{steps} = the final (w, c, syms) segmentation.
    Greedy left-to-right merge application is expressed with the
    islands formulation (candidate positions grouped into consecutive
    runs; the 1st, 3rd, 5th... of each run merge) — provably equal to
    the Spark fold (see operators/bpe.py docstring)."""
    parts = [
        f"""
    WITH words AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+')) AS w
        FROM documents)
      WHERE w <> '' GROUP BY w),
    v0 AS MATERIALIZED (
      SELECT w, c, list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
      FROM words)"""
    ]
    for t in range(1, steps + 1):
        p = t - 1
        parts.append(f"""
    p{t} AS (
      SELECT syms[i] AS s1, syms[i+1] AS s2, CAST(SUM(c) AS BIGINT) AS n
      FROM v{p}, unnest(range(1, len(syms))) AS u{t}a(i)
      GROUP BY 1, 2),
    b{t} AS MATERIALIZED (
      SELECT s1, s2, n FROM p{t} ORDER BY n DESC, s1, s2 LIMIT 1),
    e{t} AS (
      SELECT w, c, i AS pos, syms[i] AS sym,
             COALESCE(i < len(syms)
                      AND syms[i] = (SELECT s1 FROM b{t})
                      AND syms[i+1] = (SELECT s2 FROM b{t}), FALSE) AS cnd
      FROM v{p}, unnest(range(1, len(syms) + 1)) AS u{t}b(i)),
    g{t} AS (
      SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, cnd ORDER BY pos)
                AS grp
      FROM e{t}),
    m{t} AS (
      SELECT w, c, pos, sym,
             cnd AND (ROW_NUMBER() OVER (PARTITION BY w, cnd, grp
                                         ORDER BY pos) % 2 = 1) AS take
      FROM g{t}),
    v{t} AS MATERIALIZED (
      SELECT w, c,
             list(CASE WHEN take THEN sym || nxt ELSE sym END
                  ORDER BY pos) AS syms
      FROM (
        SELECT w, c, pos, sym, take,
               LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
               COALESCE(LAG(take) OVER (PARTITION BY w ORDER BY pos),
                        FALSE) AS dropped
        FROM m{t})
      WHERE NOT dropped GROUP BY w, c)""")
    return ",".join(parts)


def _bpe_oracle_sql(steps: int = 6) -> str:
    """DuckDB replay of the BPE trainer's learned-merge table."""
    unions = "\n      UNION ALL ".join(
        f"SELECT {t} AS step, s1 AS lhs, s2 AS rhs, n AS pair_count"
        f" FROM b{t}"
        for t in range(1, steps + 1)
    )
    return _bpe_stages_sql(steps) + f"""
    SELECT step, lhs, rhs, pair_count FROM ({unions}) ORDER BY step
    """


def _bpe_segment_oracle_sql(steps: int = 6) -> str:
    """DuckDB replay of corpus-wide BPE application: the same staged
    trainer, then every word occurrence joined to its final
    segmentation for a per-source compression report."""
    return _bpe_stages_sql(steps) + f"""
    , src AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source,
               unnest(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+')) AS w
        FROM documents)
      WHERE w <> '' GROUP BY 1, 2)
    SELECT s.source,
           CAST(SUM(s.c) AS BIGINT) AS n_words,
           CAST(SUM(s.c * len(v.w)) AS BIGINT) AS n_chars,
           CAST(SUM(s.c * len(v.syms)) AS BIGINT) AS n_symbols,
           ROUND(CAST(SUM(s.c * len(v.w)) AS DOUBLE)
                 / SUM(s.c * len(v.syms)), 6) AS compression
    FROM src s JOIN v{steps} v ON v.w = s.w
    GROUP BY s.source ORDER BY s.source
    """


@query("bpe_train_merges", _bpe_oracle_sql(steps=6))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative distributed BPE tokenizer training: six merge steps
    learned over the corpus, each = one vocab-bounded pair-count
    aggregation + a TakeOrdered(1) argmax + a codegen'd greedy fold
    applying the merge to every word's symbol array. The oracle replays
    ALL six iterations in staged SQL (pair counts, argmax with the same
    tie-break, islands-formulation greedy merge), so the learned merge
    table — order, symbols, and exact weighted counts — is
    hash-checked end-to-end. The only driver sync is one scalar row
    per step. Scale notes: operators/bpe.py."""
    from rocketmq_flink_spark.operators.bpe import train_bpe

    docs = load_tables(spark, sf_dir)["documents"]
    merges, vocab = train_bpe(docs, "text", steps=6, batch=4)
    vocab.unpersist()
    return merges.orderBy("step")


@query("bpe_segment_corpus", _bpe_segment_oracle_sql(steps=6))
def bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide application of the learned BPE merges: every word
    occurrence is segmented under the 6-step merge table and rolled up
    into a per-source compression report (chars vs symbols — the
    fertility number that tells you whether a tokenizer suits a
    domain). Scale: segmentation is computed ONCE per distinct word
    (vocab-bounded) and joined to per-(source, word) occurrence counts
    — the token stream itself is never re-processed per merge step.
    Oracle replays training AND application in staged SQL. Scale
    notes: operators/bpe.py."""
    from rocketmq_flink_spark.operators.bpe import train_bpe
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    merges, vocab = train_bpe(docs, "text", steps=6, batch=4)
    seg = vocab.select(
        "w",
        F.length("w").alias("n_chars_w"),
        F.size("syms").alias("n_syms_w"),
    )
    src = (
        docs.select(
            "source",
            F.explode(
                F.split(F.expr(normalize_sql("text")), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        src.join(seg, "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_chars_w")).cast("long").alias(
                "n_chars"
            ),
            F.sum(F.col("c") * F.col("n_syms_w")).cast("long").alias(
                "n_symbols"
            ),
            F.round(
                F.sum(F.col("c") * F.col("n_chars_w")).cast("double")
                / F.sum(F.col("c") * F.col("n_syms_w")),
                6,
            ).alias("compression"),
        )
        .orderBy("source")
    )
    vocab.unpersist()
    return out


def _hll_setops_oracle_sql() -> str:
    """DuckDB replay of HLL set algebra over click/purchase user sets."""
    from rocketmq_flink_spark.operators.sketches import (
        hll_estimate_sql,
        hll_registers_sql,
    )

    ra = hll_registers_sql(
        "CAST(user_id AS VARCHAR)",
        "FROM events WHERE event_type = 'click'",
        "'click'",
    )
    rb = hll_registers_sql(
        "CAST(user_id AS VARCHAR)",
        "FROM events WHERE event_type = 'purchase'",
        "'purchase'",
    )
    return f"""
    WITH ra AS ({ra}),
    rb AS ({rb}),
    rall AS (
      SELECT 'u' AS grp, bucket, MAX(m) AS m
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1, 2),
    ea AS ({hll_estimate_sql("ra")}),
    eb AS ({hll_estimate_sql("rb")}),
    eu AS ({hll_estimate_sql("rall")}),
    ex AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id)
    SELECT ea.est_distinct AS est_clickers,
           eb.est_distinct AS est_buyers,
           eu.est_distinct AS est_union,
           ROUND(ea.est_distinct + eb.est_distinct - eu.est_distinct, 4)
             AS est_intersection,
           (SELECT CAST(SUM(a) AS BIGINT) FROM ex) AS exact_clickers,
           (SELECT CAST(SUM(b) AS BIGINT) FROM ex) AS exact_buyers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS exact_union,
           (SELECT CAST(SUM(a * b) AS BIGINT) FROM ex) AS exact_intersection
    FROM ea, eb, eu
    """


@query("hll_set_algebra_users", _hll_setops_oracle_sql())
def hll_set_algebra_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: HLL estimates for the clicker set, the buyer
    set, their union (register max-merge — the mergeability that makes
    per-shard sketching valid), and their INTERSECTION via
    inclusion-exclusion — the audience-overlap question every
    segmentation pipeline answers from sketches because the exact
    distinct-join is unaffordable at scale. Exact counts ride along
    from ONE per-user flag aggregation for error visibility. All
    register arithmetic is exact BIGINT; estimates are fixed-order
    doubles rounded to 4dp — bit-identical in the oracle."""
    from rocketmq_flink_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from rocketmq_flink_spark.session import spread_for_compute

    # ev feeds the register pass and the exact-flag aggregation; reg
    # (<= 128 rows) feeds the per-type estimate and the union merge;
    # est (2 rows) feeds both filters — three cuts so the event scan
    # and md5 hashing run once per action (optimization r08)
    ev = spread_for_compute(
        load_tables(spark, sf_dir)["events"]
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
    ).transform(_cut_big)
    uid = F.col("user_id").cast("string")
    reg = hll_registers(ev, uid, ["event_type"]).transform(cut)
    est = hll_estimate(reg, ["event_type"]).transform(cut)
    ea = est.where(F.col("event_type") == "click").select(
        F.col("est_distinct").alias("est_clickers")
    )
    eb = est.where(F.col("event_type") == "purchase").select(
        F.col("est_distinct").alias("est_buyers")
    )
    eu = hll_estimate(hll_merge(reg, []), []).select(
        F.col("est_distinct").alias("est_union")
    )
    ex = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "click").cast("int")
            ).alias("a"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("b"),
        )
        .agg(
            F.sum("a").cast("long").alias("exact_clickers"),
            F.sum("b").cast("long").alias("exact_buyers"),
            F.count(F.lit(1)).alias("exact_union"),
            F.sum(F.col("a") * F.col("b")).cast("long").alias(
                "exact_intersection"
            ),
        )
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .withColumn(
            "est_intersection",
            F.round(
                F.col("est_clickers") + F.col("est_buyers")
                - F.col("est_union"),
                4,
            ),
        )
        .crossJoin(ex)
        .select(
            "est_clickers", "est_buyers", "est_union", "est_intersection",
            "exact_clickers", "exact_buyers", "exact_union",
            "exact_intersection",
        )
    )


@query(
    "containment_pairs_docs",
    f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    rare AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
    shr AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shr GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b)
    SELECT contained, container, n_inter, n_contained,
           ROUND(CAST(n_inter AS DOUBLE) / n_contained, 6) AS containment
    FROM (
      SELECT id_a AS contained, id_b AS container, n_inter,
             n_a AS n_contained FROM j WHERE 100 * n_inter >= 60 * n_a
      UNION ALL
      SELECT id_b, id_a, n_inter, n_b FROM j
      WHERE 100 * n_inter >= 60 * n_b)
    ORDER BY contained, container
    """,
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: documents whose rare-shingle set
    is >= 60% CONTAINED in another document's — the quoted/excerpted/
    subsumed relation that symmetric Jaccard misses (a short doc inside
    a long one has tiny Jaccard but containment ~1). Both directions
    emitted; the threshold decision is exact integer cross-
    multiplication. Same blocking as ngram_jaccard_dedup. Scale notes:
    operators/dedup.py containment_pairs."""
    from rocketmq_flink_spark.operators.dedup import containment_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    return containment_pairs(
        docs, "doc_id", "text", k=5, threshold_pct=60
    ).orderBy("contained", "container")


def _kcenter_oracle_sql(k: int = 6) -> str:
    """DuckDB replay of greedy k-center selection: staged MATERIALIZED
    CTEs carrying the running min-distance column, same hash60 seed and
    ROUND(.,12)+id argmax tie-break as the Spark operator."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(vec_id AS VARCHAR)")
    l2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    parts = [f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT) * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))
               AS v
      FROM embeddings),
    s1 AS MATERIALIZED (
      SELECT vec_id, v FROM c ORDER BY {h}, vec_id LIMIT 1),
    d1 AS MATERIALIZED (
      SELECT c.vec_id, c.v,
             {l2.format(a="c.v", b="s1.v")} AS dmin
      FROM c, s1)"""]
    for t in range(2, k + 1):
        p = t - 1
        parts.append(f"""
    s{t} AS MATERIALIZED (
      SELECT vec_id, v, dmin FROM d{p}
      ORDER BY ROUND(dmin, 12) DESC, vec_id LIMIT 1)""")
        if t < k:
            parts.append(f"""
    d{t} AS MATERIALIZED (
      SELECT d.vec_id, d.v,
             LEAST(d.dmin, {l2.format(a="d.v", b="s.v")}) AS dmin
      FROM d{p} d, s{t} s)""")
    unions = "\n      UNION ALL ".join(
        [f"SELECT 1 AS rank, vec_id, 0.0 AS dist2 FROM s1"]
        + [
            f"SELECT {t}, vec_id, CAST(ROUND(dmin, 12) AS DOUBLE)"
            f" FROM s{t}"
            for t in range(2, k + 1)
        ]
    )
    return ",".join(parts) + f"""
    SELECT rank, vec_id, dist2 FROM ({unions}) ORDER BY rank
    """


@query("kcenter_coreset_vectors", _kcenter_oracle_sql(k=6))
def kcenter_coreset_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset: 6 embedding vectors chosen so every
    corpus vector is within the final max-min radius of some center —
    the deterministic diversity sampler for eval-set / seed-set
    selection (farthest-point 2-approximation of the optimal cover).
    The emitted dist2 column is the coverage-radius curve. Exact
    decimal distances, hash-seeded start, one map pass + TakeOrdered
    argmax per iteration with a running min-distance column (never
    k x corpus recomputation). Oracle replays every selection step in
    staged SQL. Scale notes: operators/similarity.py kcenter_coreset."""
    from rocketmq_flink_spark.operators.similarity import kcenter_coreset

    emb = load_tables(spark, sf_dir)["embeddings"]
    return kcenter_coreset(emb, k=6).orderBy("rank")


def _pca_stages_sql(iters: int = 6) -> str:
    """Shared DuckDB CTE chain replaying the PURE-INTEGER PCA power
    iteration up to the canonicalized vector `vc` (ticks 1e-10,
    HUGEINT) — identical rational-rounding recurrence as
    operators/linalg.py (no doubles, no decimal downcasts: Spark
    rounds decimal downcasts half-up while DuckDB truncates, and
    ROUND(double) disagrees in the last ulp; integers are the only
    engine-neutral ground). 1-based indices internally.

      half_up(u/d) = sign * ((2|u| + d) // (2d));  ticks:
      x 1e-10, mu 1e-10, cent 1e-10, cells 1e-12, v 1e-10."""
    sql = """
    WITH x AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS t
      FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM x),
    xi AS MATERIALIZED (
      SELECT vec_id, i, t[i] AS xt
      FROM x, unnest(range(1, len(t) + 1)) AS u(i)),
    mu AS MATERIALIZED (
      SELECT i, CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
                ELSE -((-2*s + n) // (2*n)) END AS m
      FROM (SELECT i, CAST(SUM(xt) AS HUGEINT) AS s,
                   (SELECT n FROM nn) AS n
            FROM xi GROUP BY i)),
    cent AS MATERIALIZED (
      SELECT xi.vec_id, xi.i, CAST(xi.xt - mu.m AS HUGEINT) AS c
      FROM xi JOIN mu USING (i)),
    cells AS MATERIALIZED (
      SELECT i, j, CASE WHEN u >= 0 THEN (2*u + d) // (2*d)
                   ELSE -((-2*u + d) // (2*d)) END AS s
      FROM (
        SELECT a.i AS i, b.i AS j, SUM(a.c * b.c) AS u,
               CAST((SELECT n FROM nn) AS HUGEINT) * 100000000 AS d
        FROM cent a JOIN cent b ON a.vec_id = b.vec_id
        GROUP BY 1, 2)),
    seed AS (SELECT i FROM cells WHERE i = j ORDER BY s DESC, i LIMIT 1),
    v0 AS MATERIALIZED (
      SELECT i AS j,
             CAST(CASE WHEN i = (SELECT i FROM seed)
                  THEN 10000000000 ELSE 0 END AS HUGEINT) AS v
      FROM (SELECT DISTINCT i FROM cells))"""
    for t in range(1, iters + 1):
        p = t - 1
        sql += f""",
    av{t} AS MATERIALIZED (
      SELECT c.i, SUM(c.s * p.v) AS raw
      FROM cells c JOIN v{p} p ON p.j = c.j GROUP BY c.i),
    wm{t} AS (SELECT MAX(abs(raw)) AS wmax FROM av{t}),
    v{t} AS MATERIALIZED (
      SELECT a.i AS j,
             CASE WHEN wmax = 0 THEN p.v
                  WHEN raw >= 0 THEN
                    (2*raw*10000000000 + wmax) // (2*wmax)
                  ELSE -(((-2*raw)*10000000000 + wmax) // (2*wmax))
             END AS v
      FROM av{t} a JOIN v{p} p ON p.j = a.i, wm{t})"""
    T_ = iters
    return sql + f""",
    pv AS (
      SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
      FROM v{T_} ORDER BY abs(v) DESC, j LIMIT 1),
    vc AS MATERIALIZED (
      SELECT j, v * (SELECT sgn FROM pv) AS v FROM v{T_})"""


def _pca_oracle_sql(iters: int = 6) -> str:
    """DuckDB replay of the full PCA top-component report — integer
    Rayleigh quotient, outputs as exact 1e-6 ticks cast to DOUBLE."""
    return _pca_stages_sql(iters) + f""",
    tt AS MATERIALIZED (
      SELECT c.i, SUM(c.s * w.v) AS t
      FROM cells c JOIN vc w ON w.j = c.j GROUP BY c.i),
    tq AS (
      SELECT i, CASE WHEN t >= 0 THEN t // 1000000
                ELSE -((-t) // 1000000) END AS tq
      FROM tt),
    ray AS (
      SELECT SUM(tq.tq * w.v) AS vsv
      FROM tq JOIN vc w ON w.j = tq.i),
    den AS (SELECT SUM(v * v) AS dn FROM vc),
    tr AS (SELECT SUM(s) AS tr FROM cells WHERE i = j),
    lam AS (
      SELECT CASE WHEN dn = 0 THEN 0
                  WHEN vsv >= 0 THEN (2*vsv + dn) // (2*dn)
                  ELSE -((-2*vsv + dn) // (2*dn)) END AS lam6
      FROM ray, den),
    tr6 AS (
      SELECT CASE WHEN tr >= 0 THEN (2*tr + 1000000) // 2000000
                  ELSE -((-2*tr + 1000000) // 2000000) END AS tr6
      FROM tr),
    ex6 AS (
      SELECT CASE WHEN tr = 0 THEN 0
                  WHEN lam6 >= 0 THEN
                    (2*lam6*1000000000000 + tr) // (2*tr)
                  ELSE -((-2*lam6*1000000000000 + tr) // (2*tr))
             END AS ex6
      FROM lam, tr),
    vq AS (
      SELECT j, CASE WHEN v >= 0 THEN (2*v + 10000) // 20000
                ELSE -((-2*v + 10000) // 20000) END AS v6
      FROM vc)
    SELECT CAST(lam6 AS DOUBLE) / 1e6 AS lambda1,
           CAST(tr6 AS DOUBLE) / 1e6 AS trace,
           CAST(ex6 AS DOUBLE) / 1e6 AS explained_ratio,
           {iters} AS n_iters,
           (SELECT CAST(v6 AS DOUBLE) / 1e6 FROM vq WHERE j = 1) AS v0,
           (SELECT CAST(v6 AS DOUBLE) / 1e6 FROM vq WHERE j = 2) AS v1,
           (SELECT CAST(v6 AS DOUBLE) / 1e6 FROM vq WHERE j = 3) AS v2,
           (SELECT CAST(v6 AS DOUBLE) / 1e6 FROM vq WHERE j = 4) AS v3
    FROM lam, tr6, ex6
    """


@query("pca_top_component_embeddings", _pca_oracle_sql(iters=6))
def pca_top_component_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (top principal component of the covariance
    matrix by power iteration) — the embedding-space health check /
    whitening prerequisite. The covariance pass is ONE
    map-side-combined aggregation over dim^2 per-row products (the
    only data-sized work); the power iteration runs on the collected
    model-sized cell table in PURE INTEGER arithmetic — no floating
    point, no decimal downcasts (engines disagree on both: Spark
    rounds decimal downcasts half-up, DuckDB truncates; ROUND(double)
    differs in the last ulp). Max-norm power steps, integer Rayleigh
    quotient, outputs as exact 1e-6 ticks — eigenvalue, explained
    ratio AND eigenvector components hash-match the staged HUGEINT
    SQL replay at any SF. Scale notes: operators/linalg.py."""
    from rocketmq_flink_spark.operators.linalg import pca_top_component

    emb = load_tables(spark, sf_dir)["embeddings"]
    return pca_top_component(emb, iters=6)


def _pca_outliers_oracle_sql(iters: int = 6, k: int = 10) -> str:
    """DuckDB replay: shared integer PCA stage chain + exact INTEGER
    projection of every centered tick vector onto the canonicalized
    component (ticks 1e-20); ranking compares raw integers, the
    reported score is the half-up 1e-6 tick as DOUBLE."""
    return _pca_stages_sql(iters) + f""",
    proj AS (
      SELECT c.vec_id, SUM(c.c * w.v) AS su
      FROM cent c JOIN vc w ON w.j = c.i GROUP BY c.vec_id)
    SELECT vec_id,
           CAST(CASE WHEN su >= 0 THEN
                  (2*su + 100000000000000) // 200000000000000
                ELSE -((-2*su + 100000000000000) // 200000000000000)
                END AS DOUBLE) / 1e6 AS score,
           ROW_NUMBER() OVER (ORDER BY abs(su) DESC, vec_id) AS rank
    FROM proj
    ORDER BY abs(su) DESC, vec_id
    LIMIT {k}
    """


@query("pca_projection_outliers", _pca_outliers_oracle_sql())
def pca_projection_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anomaly report: the 10 vectors furthest out along the
    corpus's top principal component — the cheap first-line filter for
    corrupt/degenerate embeddings. The projection is an exact INTEGER
    dot product of each centered tick vector with the trained,
    sign-canonicalized eigenvector ticks (model-sized literal);
    ranking compares the raw integers (no rounding in the ORDER BY),
    TakeOrdered top-k — never a global window over the corpus. The
    oracle replays training AND scoring in HUGEINT. Scale notes:
    operators/linalg.py."""
    from rocketmq_flink_spark.operators.linalg import (
        pca_projection_outliers as _po,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    return _po(emb, iters=6, k=10)


def _bm25_oracle_sql(k: int = 10, n_queries: int = 5, qlen: int = 6) -> str:
    """DuckDB replay of the exact-integer BM25 pipeline: tokenize,
    postings tf/df, the fixed-point log2 idf as a recursive CTE
    (bit-identical to the Catalyst fold — operators/retrieval.py),
    integer tf-saturation ticks, integer ranking."""
    return f"""
    WITH RECURSIVE t0 AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    dls AS (SELECT doc_id, len(tk) AS dl FROM t0),
    nn AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dls),
    tok AS (
      SELECT doc_id, i AS pos, tk[i] AS term
      FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)),
    tf AS (
      SELECT t.doc_id, d.dl, t.term, COUNT(*) AS tf
      FROM tok t JOIN dls d USING (doc_id)
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    base AS (
      SELECT term, df,
             2 * (SELECT n FROM nn) + 2 AS p0, 2 * df + 1 AS q0,
             length(bin((2 * (SELECT n FROM nn) + 2) // (2 * df + 1))) - 1
               AS kk
      FROM dfreq),
    it AS (
      SELECT term, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM base
      UNION ALL
      SELECT term, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    idf AS (
      SELECT term, acc + (CAST(kk AS BIGINT) << 20) AS idf_fp
      FROM it WHERE i = 20),
    qtok AS (
      SELECT doc_id AS qid, term, MIN(pos) AS fpos
      FROM tok WHERE doc_id < {n_queries} GROUP BY 1, 2),
    qterms AS (
      SELECT qid, term FROM (
        SELECT qid, term,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fpos) AS rn
        FROM qtok)
      WHERE rn <= {qlen}),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(i.idf_fp *
               ((2 * (CAST(22 AS HUGEINT) * (SELECT l FROM nn)
                      * 1000000 * t.tf)
                 + (CAST(10 AS HUGEINT) * (SELECT l FROM nn) * t.tf
                    + 3 * (SELECT l FROM nn)
                    + CAST(9 AS HUGEINT) * (SELECT n FROM nn) * t.dl))
                // (2 * (CAST(10 AS HUGEINT) * (SELECT l FROM nn) * t.tf
                         + 3 * (SELECT l FROM nn)
                         + CAST(9 AS HUGEINT) * (SELECT n FROM nn) * t.dl))))
               AS ticks
      FROM qterms q JOIN tf t USING (term) JOIN idf i USING (term)
      GROUP BY 1, 2)
    SELECT qid AS query_id, doc_id,
           (CAST(ticks AS DOUBLE) / 1048576.0) / 1e6 AS score, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY ticks DESC, doc_id) AS rank
          FROM sc)
    WHERE rank <= {k}
    ORDER BY query_id, rank
    """


@query("bm25_search_docs", _bm25_oracle_sql())
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text BM25 top-10 retrieval over the documents corpus —
    the text-side counterpart of the ANN index family. Five queries
    derive deterministically from the corpus itself (the first six
    distinct normalized tokens of docs 0-4, so each query has a known
    strongly-relevant document). Scoring is EXACT integer arithmetic
    end to end: fixed-point base-2 idf (ranking-identical to ln-BM25
    because uniform idf scaling preserves score order) via the
    repeated-squaring bit-extraction fold, integer tf-saturation
    ticks, integer ranking — the oracle replays the identical
    recurrence in a recursive CTE. Postings-list joins only: df/idf
    live on the vocabulary table, only documents sharing a query term
    are scored, top-k is a per-query window over that candidate set.
    Scale notes: operators/retrieval.py."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import bm25_topk

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        "filter(split("
        + normalize_sql("text")
        + ", '\\\\s+'), x -> x <> '')"
    )
    queries = docs.where(F.col("doc_id") < 5).selectExpr(
        "doc_id AS query_id",
        f"concat_ws(' ', slice(array_distinct({toks}), 1, 6)) AS qtext",
    )
    return bm25_topk(docs, queries, k=10).orderBy("query_id", "rank")


def _kmv_oracle_sql(k: int = 64) -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH h AS (SELECT DISTINCT event_type, {h} AS h FROM events),
    r AS (SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
          FROM h),
    agg AS (SELECT event_type, COUNT(*) AS n_exact,
                   MAX(CASE WHEN rn = {k} THEN h END) AS kth
            FROM r GROUP BY 1),
    est AS (SELECT event_type, n_exact,
                   CASE WHEN kth IS NOT NULL THEN
                     CAST((CAST({k - 1} AS HUGEINT) * 1152921504606846976)
                          // kth AS BIGINT)
                   ELSE n_exact END AS est_distinct
            FROM agg)
    SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact, est_distinct,
           CAST((abs(est_distinct - n_exact) * 1000000) // n_exact
                AS BIGINT) AS err_micro
    FROM est ORDER BY event_type
    """


@query("kmv_distinct_users", _kmv_oracle_sql())
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-user sketch per event type next to the
    exact count and the integer-micro relative error — the fourth
    mergeable sketch (HLL / Count-Min / histogram / KMV), the one
    that also supports set EXPRESSIONS over distinct values
    (intersection sizes via inclusion-exclusion on merged sketches).
    Two-phase salted bottom-k keeps every aggregation buffer under
    salt_buckets*k values regardless of group skew; the estimator is
    integer floor division — engine-neutral. Scale notes:
    operators/sketches.py bottomk_sketch."""
    from rocketmq_flink_spark.operators.sketches import (
        bottomk_estimate,
        bottomk_sketch,
    )

    ev = load_tables(spark, sf_dir)["events"]
    sk = bottomk_estimate(
        bottomk_sketch(ev, ["event_type"], "user_id", k=64), k=64
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        exact.join(sk.select("event_type", "est_distinct"), "event_type")
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            "est_distinct",
            F.expr(
                "CAST((abs(est_distinct - n_exact) * 1000000)"
                " div n_exact AS BIGINT)"
            ).alias("err_micro"),
        )
        .orderBy("event_type")
    )


def _dsir_oracle_sql(buckets: int = 8192, k: int = 20) -> str:
    """DuckDB replay of the hashed-feature importance scorer: bucket
    counts, signed fixed-point log-ratio per bucket (recursive CTE,
    bit-equal to the Catalyst fold), per-doc tick sums, trunc-division
    length normalization, top-k."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("tok")
    return f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, source,
             unnest(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')) AS tok
      FROM documents),
    tgt AS (SELECT MIN(source) AS s FROM documents),
    occ AS (SELECT doc_id, source, {h} % {buckets} AS b FROM tok),
    cq AS (SELECT b, COUNT(*) AS cq FROM occ GROUP BY b),
    ct AS (SELECT b, COUNT(*) AS ct FROM occ
           WHERE source = (SELECT s FROM tgt) GROUP BY b),
    bk AS (
      SELECT cq.b, COALESCE(ct.ct, 0) + 1 AS a, cq.cq + 1 AS c
      FROM cq LEFT JOIN ct ON cq.b = ct.b),
    tot AS (
      SELECT (SELECT COALESCE(SUM(cq), 0) FROM cq) + {buckets} AS tq,
             (SELECT COALESCE(SUM(ct), 0) FROM ct) + {buckets} AS tt),
    fb AS (
      SELECT b, CASE WHEN a >= c THEN 1 ELSE -1 END AS sgn,
             GREATEST(a, c) AS p0, LEAST(a, c) AS q0,
             length(bin(GREATEST(a, c) // LEAST(a, c))) - 1 AS kk
      FROM bk),
    it AS (
      SELECT b, sgn, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM fb
      UNION ALL
      SELECT b, sgn, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    sb AS (
      SELECT b, sgn * (acc + (CAST(kk AS BIGINT) << 20)) AS sb
      FROM it WHERE i = 20),
    ctot AS (
      SELECT CASE WHEN tq >= tt THEN 1 ELSE -1 END AS sgn,
             GREATEST(tq, tt) AS p0, LEAST(tq, tt) AS q0,
             length(bin(GREATEST(tq, tt) // LEAST(tq, tt))) - 1 AS kk
      FROM tot),
    itc AS (
      SELECT sgn, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM ctot
      UNION ALL
      SELECT sgn, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM itc)
      WHERE i < 20),
    cc AS (
      SELECT sgn * (acc + (CAST(kk AS BIGINT) << 20)) AS c
      FROM itc WHERE i = 20),
    ds AS (
      SELECT o.doc_id, ANY_VALUE(o.source) AS source,
             COUNT(*) AS n_tokens,
             SUM(sb.sb) + COUNT(*) * (SELECT c FROM cc) AS ticks
      FROM occ o JOIN sb ON sb.b = o.b
      GROUP BY o.doc_id),
    sc AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(CASE WHEN ticks >= 0 THEN abs(ticks) // n_tokens
                  ELSE -(abs(ticks) // n_tokens) END AS BIGINT)
               AS score_ticks
      FROM ds)
    SELECT doc_id, source, n_tokens, score_ticks, rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY score_ticks DESC, doc_id) AS rank
          FROM sc)
    WHERE rank <= {k}
    ORDER BY rank
    """


@query("dsir_importance_select", _dsir_oracle_sql())
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR-style, Xie et
    al. 2023): score every document by how much its hashed-unigram
    feature distribution looks like a TARGET domain (here: the
    lexicographically-first source, a stand-in for "quality" data)
    relative to the raw corpus — the standard method for targeted
    pretraining-data selection. Per 8192-bucket hashed feature:
    signed log-ratio log2((ct+1)/(cq+1)) + log2((Tq+B)/(Tt+B)) in
    FIXED-POINT integer ticks (the BM25 fp_log2 fold — zero libm, so
    scores and ranks are engine-exact); per-doc score = mean ticks
    per token (sign-split trunc division — Spark `div` truncates,
    DuckDB `//` floors, so the sign-split makes them agree). Top-20
    report. Scale: bucket table is 8192 rows (broadcast to the
    occurrence stream), doc scores are one map-side-combined sum —
    one pass over tokens beyond the counting pass; the target-source
    pick and the total-mass log constant are broadcast scalar joins
    (fully lazy plan, zero driver round-trips). Scale notes:
    operators/retrieval.py."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import signed_fp_log2_sql

    B = 8192
    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    occ = docs.selectExpr(
        "doc_id", "source", f"explode({toks}) AS tok"
    ).select(
        "doc_id", "source", (hash60(F.col("tok")) % B).alias("b")
    # the tokenize + explode + md5-hash stream feeds THREE subtrees
    # (corpus counts, target counts, per-doc scoring): one cut
    # (optimization r08)
    ).transform(_cut_big)
    tgtdf = docs.agg(F.min("source").alias("tgt"))
    cq = occ.groupBy("b").agg(F.count(F.lit(1)).alias("cq"))
    ct = (
        occ.crossJoin(F.broadcast(tgtdf))
        .where(F.col("source") == F.col("tgt"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    bk = (
        cq.join(ct, "b", "left")
        .select(
            "b",
            (F.coalesce(F.col("ct"), F.lit(0)) + 1).alias("a"),
            (F.col("cq") + 1).alias("c"),
        )
        # 8192 rows, two consumers (per-bucket ticks + the total-mass
        # constant): cut so the bucket aggregations run once
        .transform(cut)
    )
    sb = bk.selectExpr(
        "b", signed_fp_log2_sql("a", "c") + " AS sb"
    )
    tots = (
        bk.agg(
            (F.sum(F.col("c") - 1) + B).cast("long").alias("tq"),
            (F.sum(F.col("a") - 1) + B).cast("long").alias("tt"),
        )
        .selectExpr(signed_fp_log2_sql("tq", "tt") + " AS c_const")
    )
    ds = (
        occ.join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum("sb") + F.count(F.lit(1)) * F.any_value("c_const")
            ).alias("ticks"),
        )
    )
    sc = ds.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "CASE WHEN ticks >= 0 THEN abs(ticks) div n_tokens"
            " ELSE -(abs(ticks) div n_tokens) END"
        ).alias("score_ticks"),
    )
    from pyspark.sql import Window

    top = sc.orderBy(F.desc("score_ticks"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score_ticks"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


@query(
    "schema_profile_events",
    """
    SELECT 'event_id' AS col,
           CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(MIN(event_id) AS BIGINT) AS min_v,
           CAST(MAX(event_id) AS BIGINT) AS max_v
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*) - COUNT(user_id),
           COUNT(DISTINCT user_id),
           MIN(user_id), MAX(user_id) FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*) - COUNT(event_type),
           COUNT(DISTINCT event_type), NULL, NULL FROM events
    UNION ALL
    SELECT 'value_cents', COUNT(*) - COUNT(value),
           COUNT(DISTINCT CAST(ROUND(value * 100) AS BIGINT)),
           MIN(CAST(ROUND(value * 100) AS BIGINT)),
           MAX(CAST(ROUND(value * 100) AS BIGINT)) FROM events
    UNION ALL
    SELECT 'ts_us', COUNT(*) - COUNT(ts), COUNT(DISTINCT ts),
           MIN(epoch_us(ts)), MAX(epoch_us(ts)) FROM events
    ORDER BY col
    """,
)
def schema_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card column profile of the events stream: null count,
    exact distinct count, and typed min/max per column — the
    first-look data-quality report every ingest pipeline emits before
    training consumes a source (null spikes and cardinality cliffs
    are THE cheap schema-drift tripwires). Doubles profile in integer
    cents and timestamps in epoch micros so every figure is
    engine-exact. One pass per column over one scan each (Catalyst
    merges the aggregates; distinct counts are exact, not approximate
    — the sketch variants exist separately as HLL/KMV)."""
    ev = _events_typed(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")

    def prof(col_name, nulls_col, dist_col, min_col, max_col):
        return ev.agg(
            F.lit(col_name).alias("col"),
            (F.count(F.lit(1)) - F.count(nulls_col)).cast("long").alias(
                "n_nulls"
            ),
            F.countDistinct(dist_col).cast("long").alias("n_distinct"),
            (
                F.min(min_col).cast("long")
                if min_col is not None
                else F.lit(None).cast("long")
            ).alias("min_v"),
            (
                F.max(max_col).cast("long")
                if max_col is not None
                else F.lit(None).cast("long")
            ).alias("max_v"),
        )

    out = (
        prof("event_id", F.col("event_id"), F.col("event_id"),
             F.col("event_id"), F.col("event_id"))
        .unionAll(prof("user_id", F.col("user_id"), F.col("user_id"),
                       F.col("user_id"), F.col("user_id")))
        .unionAll(prof("event_type", F.col("event_type"),
                       F.col("event_type"), None, None))
        .unionAll(prof("value_cents", F.col("value"), cents, cents, cents))
        .unionAll(prof("ts_us", F.col("ts"), F.col("ts"),
                       F.unix_micros("ts"), F.unix_micros("ts")))
    )
    return out.orderBy("col")


@query(
    "scene_change_frames",
    """
    WITH fr AS (SELECT CAST(g AS BIGINT) AS f FROM range(48) t(g)),
    px AS (
      SELECT f, ((f // 8) * 37 + 3 * y.g + 5 * x.g + f) % 256 AS v
      FROM fr, range(16) y(g), range(24) x(g)),
    hc AS (SELECT f, v // 16 AS bin, COUNT(*) AS c FROM px GROUP BY 1, 2),
    grid AS (SELECT f, CAST(b.g AS BIGINT) AS bin FROM fr, range(16) b(g)),
    h2 AS (
      SELECT grid.f, grid.bin, COALESCE(hc.c, 0) AS c
      FROM grid LEFT JOIN hc ON hc.f = grid.f AND hc.bin = grid.bin),
    l1 AS (
      SELECT a.f, CAST(SUM(ABS(a.c - b.c)) AS BIGINT) AS d
      FROM h2 a JOIN h2 b ON b.f = a.f - 1 AND b.bin = a.bin
      GROUP BY a.f)
    SELECT CAST(7 AS BIGINT) AS video_id, fr.f AS frame_id,
           COALESCE(l1.d, 0) AS l1_dist,
           COALESCE(l1.d, 0) > 100 AS is_cut
    FROM fr LEFT JOIN l1 ON l1.f = fr.f
    ORDER BY frame_id
    """,
)
def scene_change_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection with REAL frame decode: 48 synthetic
    PPM frames (24x16, deterministic pattern with a +1 per-frame drift
    inside a scene and a 37-point pattern jump every 8 frames) are
    pixel-decoded for real (numpy frombuffer IS the P6 decoder), each
    frame reduced to a 16-bin red-channel histogram in one Arrow hop,
    then cuts flagged where the L1 histogram distance to the previous
    frame exceeds 100 (drift gives L1 <= 8, scene jumps >= 242 — wide
    margin). Every number is an exact integer, so the oracle
    regenerates the pixels closed-form and hash-checks the decode ->
    fingerprint -> window -> threshold path bit-for-bit. Scale:
    payloads stay on executors; the scene-cut window moves only
    16-long histogram arrays, partitioned by video. Scale notes:
    operators/multimodal.py frame_histograms/scene_cuts."""
    import pandas as pd_mod

    from rocketmq_flink_spark.operators.multimodal import (
        encode_ppm_scene,
        frame_histograms,
        scene_cuts,
    )

    ids = (
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").alias("frame_id"))
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for fid in pdf["frame_id"]:
                fid = int(fid)
                rows.append(
                    {
                        "video_id": 7,
                        "frame_id": fid,
                        "payload": encode_ppm_scene(fid, fid // 8, 24, 16),
                    }
                )
            yield pd_mod.DataFrame(rows)

    frames = ids.mapInPandas(
        synth, schema="video_id bigint, frame_id bigint, payload binary"
    )
    return scene_cuts(frame_histograms(frames, bins=16), threshold=100).orderBy(
        "frame_id"
    )


@query(
    "stream_stream_join_events",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
)
def stream_stream_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream event-time join, driven end to end as a
    streaming query (W11/W12 family — completes the streaming trio
    next to windowed aggregation and stateful sessionization): the
    purchases stream inner-joins the clicks stream of the same user
    within the preceding 10 minutes, both sides watermarked, emitted
    in append mode via availableNow micro-batches to a memory sink.
    The oracle is the equivalent batch interval join — a match proves
    the streaming join's state management loses and duplicates
    nothing. Scale: the watermark + time-range condition bound each
    side's join state to the 10-minute window (Spark drops older
    state); the join itself is a user-keyed hash shuffle, exactly the
    batch plan's shape. Reference semantics: the host engine's
    interval join, RocketMQSourceFunction feeding Flink SQL."""
    import os as _os
    import uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_raw = spark.read.parquet(
        _os.path.join(sf_dir, "events.parquet")
    ).schema["ts"].dataType
    nanos = isinstance(ts_raw, T.LongType)
    raw_schema = (
        "event_id BIGINT, ts "
        + ("BIGINT" if nanos else "TIMESTAMP_NTZ")
        + ", user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    )

    def side(event_type: str, alias: str):
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ts_instant = (
            F.timestamp_micros(F.expr("ts div 1000"))
            if nanos
            else F.col("ts").cast("timestamp")
        )
        return (
            stream.where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                ts_instant.alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "0 seconds")
        )

    p, c = side("purchase", "p"), side("click", "c")
    joined = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES"
            " AND c_ts <= p_ts"
        ),
    ).select(
        F.col("p_id").alias("purchase_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).cast("long").alias(
            "gap_us"
        ),
    )
    qname = f"ssjoin_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname).orderBy("purchase_id", "click_id")


def _jl_oracle_sql(dim: int = 64, m: int = 16, n_ids: int = 8) -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(g AS VARCHAR)")
    return f"""
    WITH t AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS xt
      FROM embeddings),
    occ AS (
      SELECT vec_id, u.g - 1 AS i, xt[u.g] AS v
      FROM t, unnest(range(1, len(xt) + 1)) AS u(g)),
    sg AS (
      SELECT g // {m} AS i, g % {m} AS j,
             CASE WHEN {h} % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM range({dim * m}) r(g)),
    pr AS (
      SELECT o.vec_id, sg.j, CAST(SUM(sg.s * o.v) AS BIGINT) AS y
      FROM occ o JOIN sg ON sg.i = o.i
      GROUP BY 1, 2),
    d2o AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.xt, b.xt),
               p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2]))) AS d2
      FROM t a JOIN t b
        ON a.vec_id < b.vec_id AND a.vec_id < {n_ids}
           AND b.vec_id < {n_ids}),
    d2p AS (
      SELECT pa.vec_id AS id_a, pb.vec_id AS id_b,
             SUM(CAST(pa.y - pb.y AS HUGEINT) * (pa.y - pb.y)) AS dp
      FROM pr pa JOIN pr pb
        ON pa.j = pb.j AND pa.vec_id < pb.vec_id
           AND pa.vec_id < {n_ids} AND pb.vec_id < {n_ids}
      GROUP BY 1, 2)
    SELECT o.id_a, o.id_b,
           CAST(CASE WHEN o.d2 = 0 THEN 1000000
                ELSE (2 * 1000000 * p.dp + {m} * o.d2)
                     // (2 * {m} * o.d2) END AS BIGINT) AS ratio_ppm
    FROM d2o o JOIN d2p p ON p.id_a = o.id_a AND p.id_b = o.id_b
    ORDER BY o.id_a, o.id_b
    """


@query("jl_projection_distortion", _jl_oracle_sql())
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    per-pair distortion report — the embedding-compression primitive
    that cheapens every downstream ANN/dedup pass at 100 TB (4x fewer
    bytes per vector with provably bounded distance distortion). The
    projection matrix is a hash-derived +-1 sign matrix (Achlioptas
    2003 database-friendly JL): sign(i,j) = parity of the portable
    md5 hash of the flat index — no stored matrix, any executor and
    any engine regenerates it. All arithmetic in integer ticks
    (floor(x*1e10+0.5)); ratio_ppm = half-up 1e6 * ||Pa-Pb||^2 /
    (m * ||a-b||^2), expectation exactly 1e6 under +-1 JL. Pairs of
    the first 8 vectors reported. Scale: projection is one
    broadcast-joined (dim x m sign table, 1024 rows) map-side-combined
    sum per vector — linear in corpus vectors, no pairwise stage
    except the sampled report."""
    dim, m, n_ids = 64, 16, 8
    from rocketmq_flink_spark.functions.porthash import hash60

    emb = load_tables(spark, sf_dir)["embeddings"]
    t = emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS array<double>),"
            " x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT))"
        ).alias("xt"),
    )
    occ = t.select("vec_id", F.posexplode("xt").alias("i", "v"))
    sg = spark.range(dim * m).select(
        F.expr(f"id div {m}").alias("i"),
        (F.col("id") % m).alias("j"),
        F.when(
            hash60(F.col("id").cast("string")) % 2 == 0, F.lit(1)
        ).otherwise(F.lit(-1)).alias("s"),
    )
    pr = (
        occ.join(F.broadcast(sg), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("v")).cast("long").alias("y"))
    )
    t8 = t.where(F.col("vec_id") < n_ids)
    a = t8.select(F.col("vec_id").alias("id_a"), F.col("xt").alias("xa"))
    b = t8.select(F.col("vec_id").alias("id_b"), F.col("xt").alias("xb"))
    d2o = a.join(b, F.col("id_a") < F.col("id_b")).selectExpr(
        "id_a",
        "id_b",
        "aggregate(zip_with(xa, xb, (p, q) -> CAST(p - q AS DECIMAL(38,0))),"
        " CAST(0 AS DECIMAL(38,0)), (acc, d) -> acc + d * d) AS d2",
    )
    pr8 = pr.where(F.col("vec_id") < n_ids)
    pa = pr8.select(F.col("vec_id").alias("id_a"), "j", F.col("y").alias("ya"))
    pb = pr8.select(F.col("vec_id").alias("id_b"), "j", F.col("y").alias("yb"))
    d2p = (
        pa.join(pb, "j")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "dd",
            (F.col("ya") - F.col("yb")).cast("decimal(38,0)")
            * (F.col("ya") - F.col("yb")).cast("decimal(38,0)"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum("dd").alias("dp"))
    )
    return (
        d2o.join(d2p, ["id_a", "id_b"])
        .selectExpr(
            "id_a",
            "id_b",
            f"CAST(CASE WHEN d2 = 0 THEN 1000000"
            f" ELSE (2 * 1000000 * dp + {m} * d2)"
            f" div (2 * {m} * d2) END AS BIGINT) AS ratio_ppm",
        )
        .orderBy("id_a", "id_b")
    )


def _negsample_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.intmath import isqrt_sql

    w = isqrt_sql(isqrt_sql("c * c * c"))
    return f"""
    WITH tc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_filter(
              regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
              x -> x <> '')) AS tok
            FROM documents)
      GROUP BY tok),
    wt AS (SELECT tok, c, {w} AS w FROM tc),
    tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS tc,
                   CAST(SUM(w) AS HUGEINT) AS tw FROM wt)
    SELECT tok, c,
           CAST((2 * 1000000 * c + (SELECT tc FROM tot))
                // (2 * (SELECT tc FROM tot)) AS BIGINT) AS raw_ppm,
           CAST((2 * 1000000 * w + (SELECT tw FROM tot))
                // (2 * (SELECT tw FROM tot)) AS BIGINT) AS smoothed_ppm
    FROM wt ORDER BY c DESC, tok LIMIT 20
    """


@query("negative_sampling_table", _negsample_oracle_sql())
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram^(3/4) negative-sampling distribution (word2vec /
    contrastive-training classic): the smoothing that damps head
    tokens and lifts the tail. Computed EXACTLY with zero libm via
    the nested-integer-sqrt identity floor(c^(3/4)) =
    isqrt(isqrt(c^3)) (exact for c^3 < 2^62, i.e. c < 1.6M per token
    per shard — document larger counts by pre-scaling); shares in
    half-up ppm. Top-20 head tokens reported with raw vs smoothed
    share — the damping is directly visible. Scale: one
    map-side-combined token count; the weight map is vocabulary-sized.
    """
    from rocketmq_flink_spark.functions.intmath import isqrt_sql
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr(f"explode({toks}) AS tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wt = tc.selectExpr(
        "tok", "c", isqrt_sql(isqrt_sql("c * c * c")) + " AS w"
    )
    tot = wt.agg(
        F.sum("c").cast("decimal(38,0)").alias("tc"),
        F.sum("w").cast("decimal(38,0)").alias("tw"),
    )
    return (
        wt.crossJoin(F.broadcast(tot))
        .selectExpr(
            "tok",
            "c",
            "CAST((2 * 1000000 * c + tc) div (2 * tc) AS BIGINT)"
            " AS raw_ppm",
            "CAST((2 * 1000000 * w + tw) div (2 * tw) AS BIGINT)"
            " AS smoothed_ppm",
        )
        .orderBy(F.desc("c"), "tok")
        .limit(20)
    )


def _mi_oracle_sql() -> str:
    """DuckDB replay of the fixed-point mutual information between
    source and language: signed fp_log2 of c_xy*N/(c_x*c_y) per joint
    cell (recursive CTE), tick-weighted sum."""
    return """
    WITH RECURSIVE j AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cxy
      FROM documents GROUP BY 1, 2),
    mx AS (SELECT source, CAST(SUM(cxy) AS BIGINT) AS cx
           FROM j GROUP BY source),
    my AS (SELECT lang, CAST(SUM(cxy) AS BIGINT) AS cy FROM j GROUP BY lang),
    nn AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM j),
    cell AS (
      SELECT j.source, j.lang, j.cxy,
             j.cxy * (SELECT n FROM nn) AS a, mx.cx * my.cy AS b
      FROM j JOIN mx USING (source) JOIN my USING (lang)),
    fb AS (
      SELECT source, lang, cxy,
             CASE WHEN a >= b THEN 1 ELSE -1 END AS sgn,
             GREATEST(a, b) AS p0, LEAST(a, b) AS q0,
             length(bin(GREATEST(a, b) // LEAST(a, b))) - 1 AS kk
      FROM cell),
    it AS (
      SELECT source, lang, cxy, sgn, kk, 0 AS i, p0 AS p,
             (q0 << kk) AS q, CAST(0 AS BIGINT) AS acc
      FROM fb
      UNION ALL
      SELECT source, lang, cxy, sgn, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    lg AS (
      SELECT source, lang, cxy,
             sgn * (acc + (CAST(kk AS BIGINT) << 20)) AS t
      FROM it WHERE i = 20)
    SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(CASE WHEN SUM(cxy * t) >= 0 THEN
                  SUM(cxy * t) // (SELECT n FROM nn)
                ELSE -((-SUM(cxy * t)) // (SELECT n FROM nn)) END
                AS BIGINT) AS mi_ticks
    FROM lg
    """


@query("mutual_information_source_lang", _mi_oracle_sql())
def mutual_information_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between source and language — how much one
    metadata column predicts the other (0 ticks = independent; the
    curation signal for redundant metadata and for stratification
    design). MI = sum_xy p(x,y) log2( p(x,y) / (p(x)p(y)) ), computed
    with ZERO libm: each cell's log-ratio is a SIGNED fixed-point
    fp_log2 of the integer ratio c_xy*N / (c_x*c_y); the tick-weighted
    sum divides by N with sign-split floor division (engines agree).
    Scale: joint table is |sources| x |langs| cells (one map-side
    combined count); the fold runs over cells, not documents. One row.
    """
    from rocketmq_flink_spark.operators.retrieval import signed_fp_log2_sql

    docs = load_tables(spark, sf_dir)["documents"]
    j = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cxy")
    )
    mx = j.groupBy("source").agg(F.sum("cxy").cast("long").alias("cx"))
    my = j.groupBy("lang").agg(F.sum("cxy").cast("long").alias("cy"))
    nn = j.agg(F.sum("cxy").cast("long").alias("n"))
    cell = (
        j.join(F.broadcast(mx), "source")
        .join(F.broadcast(my), "lang")
        .crossJoin(F.broadcast(nn))
        .selectExpr("cxy", "n", "cxy * n AS a", "cx * cy AS b")
    )
    lg = cell.selectExpr(
        "cxy", "n", signed_fp_log2_sql("a", "b") + " AS t"
    )
    return lg.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            "CAST(CASE WHEN SUM(cxy * t) >= 0 THEN"
            " SUM(cxy * t) div MAX(n)"
            " ELSE -((-SUM(cxy * t)) div MAX(n)) END AS BIGINT)"
        ).alias("mi_ticks"),
    )


def _entropy_oracle_sql() -> str:
    """DuckDB replay of the fixed-point token-entropy report: the
    fp_log2 recursive CTE runs once over (source, token) counts and
    once over the per-source totals/vocab; H = log2(T) - sum(c*log2(c))/T
    stays in integer ticks end to end."""
    return f"""
    WITH RECURSIVE tc AS (
      SELECT source, tok, COUNT(*) AS c
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source, tok),
    base AS (
      SELECT source, tok, c, length(bin(c)) - 1 AS kk
      FROM tc),
    it AS (
      SELECT source, tok, kk, 0 AS i, c AS p, (CAST(1 AS BIGINT) << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM base
      UNION ALL
      SELECT source, tok, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    lg AS (
      SELECT source, tok, acc + (CAST(kk AS BIGINT) << 20) AS lgc
      FROM it WHERE i = 20),
    ag AS (
      SELECT tc.source, CAST(SUM(tc.c) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(tc.c * lg.lgc) AS BIGINT) AS s
      FROM tc JOIN lg ON lg.source = tc.source AND lg.tok = tc.tok
      GROUP BY tc.source),
    tb AS (
      SELECT source, t, vocab, s, length(bin(t)) - 1 AS kk FROM ag),
    itt AS (
      SELECT source, t, vocab, s, kk, 0 AS i, t AS p,
             (CAST(1 AS BIGINT) << kk) AS q, CAST(0 AS BIGINT) AS acc
      FROM tb
      UNION ALL
      SELECT source, t, vocab, s, kk, i + 1,
             (p >> sh)*(p >> sh),
             CASE WHEN (p >> sh)*(p >> sh) >= 2*((q >> sh)*(q >> sh))
                  THEN ((q >> sh)*(q >> sh)) << 1
                  ELSE (q >> sh)*(q >> sh) END,
             acc*2 + CASE WHEN (p >> sh)*(p >> sh) >= 2*((q >> sh)*(q >> sh))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS sh FROM itt)
      WHERE i < 20),
    lt AS (
      SELECT source, t, vocab, s,
             acc + (CAST(kk AS BIGINT) << 20) AS lgt
      FROM itt WHERE i = 20)
    SELECT source, t AS n_tokens, vocab,
           CAST(lgt - s // t AS BIGINT) AS entropy_ticks
    FROM lt ORDER BY source
    """


@query("token_entropy_by_source", _entropy_oracle_sql())
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the unigram distribution per source — the
    vocabulary-diversity axis of corpus curation (low entropy =
    repetitive/templated text, high = diverse), computed with ZERO
    libm: H = log2(T) - sum(c * log2(c)) / T over integer counts,
    every log2 a fixed-point fp_log2 tick (the BM25 fold), the final
    division a positive integer floor — bit-identical across engines.
    Scale: one map-side-combined (source, token) count; the log2 fold
    runs over VOCABULARY-sized rows; per-source reduce is one more
    combine. Output: one row per source, entropy in 2^-20-bit ticks.
    """
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import fp_log2_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lg = tc.selectExpr(
        "source", "c", fp_log2_sql("c", "1") + " AS lgc"
    )
    ag = lg.groupBy("source").agg(
        F.sum("c").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c") * F.col("lgc")).cast("long").alias("s"),
    )
    return ag.selectExpr(
        "source",
        "t AS n_tokens",
        "vocab",
        f"CAST(({fp_log2_sql('t', '1')}) - s div t AS BIGINT)"
        " AS entropy_ticks",
    ).orderBy("source")


def _temperature_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.intmath import isqrt_sql

    r = isqrt_sql("n_tok")
    return f"""
    WITH tc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source),
    rt AS (SELECT source, n_tok, {r} AS r FROM tc),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS nt,
                   CAST(SUM(r) AS BIGINT) AS rs FROM rt)
    SELECT source, n_tok,
           CAST((2 * 1000000 * n_tok + (SELECT nt FROM tot))
                // (2 * (SELECT nt FROM tot)) AS BIGINT) AS baseline_ppm,
           CAST((2 * 1000000 * r + (SELECT rs FROM tot))
                // (2 * (SELECT rs FROM tot)) AS BIGINT) AS w_ppm
    FROM rt ORDER BY source
    """


@query("temperature_mixture_weights", _temperature_oracle_sql())
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights (alpha = 0.5): the
    standard multilingual/multi-source rebalancing rule w_c ∝ p_c^alpha
    that upsamples low-resource sources (used by mBERT/XLM-R-style
    pipelines). With alpha = 1/2 the unnormalized weight is EXACTLY
    isqrt(token_count) — floor integer sqrt, engine-stable via the
    corrected-double-sqrt formula (functions/intmath.py), so the whole
    weight table is integer-exact (half-up ppm normalization), no
    libm pow anywhere. Reports per source: token mass, baseline share
    (alpha=1), and the temperature share. Scale: one
    map-side-combined token count per source + a source-sized
    normalization — nothing grows with corpus size."""
    from rocketmq_flink_spark.functions.intmath import isqrt_sql
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    )
    rt = tc.selectExpr("source", "n_tok", isqrt_sql("n_tok") + " AS r")
    tot = rt.agg(
        F.sum("n_tok").cast("long").alias("nt"),
        F.sum("r").cast("long").alias("rs"),
    )
    return (
        rt.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_tok",
            "CAST((2 * 1000000 * n_tok + nt) div (2 * nt) AS BIGINT)"
            " AS baseline_ppm",
            "CAST((2 * 1000000 * r + rs) div (2 * rs) AS BIGINT)"
            " AS w_ppm",
        )
        .orderBy("source")
    )


@query(
    "vocab_top_p_cutoff",
    f"""
    WITH tc AS (
      SELECT source, tok, COUNT(*) AS cnt
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source, tok),
    cum AS (
      SELECT source, cnt,
             ROW_NUMBER() OVER w AS rn,
             SUM(cnt) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS total,
             COUNT(*) OVER (PARTITION BY source) AS vocab
      FROM tc
      WINDOW w AS (PARTITION BY source ORDER BY cnt DESC, tok))
    SELECT source, CAST(MIN(vocab) AS BIGINT) AS vocab_size,
           CAST(MIN(total) AS BIGINT) AS total_tokens,
           CAST(MIN(CASE WHEN 100 * cum >= 90 * total THEN rn END)
                AS BIGINT) AS n90,
           CAST(MIN(CASE WHEN 100 * cum >= 99 * total THEN rn END)
                AS BIGINT) AS n99
    FROM cum GROUP BY source ORDER BY source
    """,
)
def vocab_top_p_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p vocabulary cutoffs per source: the smallest vocabulary
    size covering 90% / 99% of the token mass — the tokenizer-budget
    planning metric (how much vocab a source actually needs, how
    heavy its tail is). Deterministic: tokens order by (count DESC,
    token ASC); thresholds compare 100*cumsum >= p*total in integers.
    Scale: one (source, token) count — map-side combinable — then
    windows over VOCABULARY-sized partitions (bounded by distinct
    tokens, not corpus size). Output: one row per source."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), "tok")
    wp = Window.partitionBy("source")
    cum = tc.select(
        "source",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("cnt").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("vocab"),
    )
    return (
        cum.groupBy("source")
        .agg(
            F.min("vocab").cast("long").alias("vocab_size"),
            F.min("total").cast("long").alias("total_tokens"),
            F.min(
                F.when(100 * F.col("cum") >= 90 * F.col("total"), F.col("rn"))
            ).cast("long").alias("n90"),
            F.min(
                F.when(100 * F.col("cum") >= 99 * F.col("total"), F.col("rn"))
            ).cast("long").alias("n99"),
        )
        .orderBy("source")
    )


def _rrf_oracle_sql(
    n_queries: int = 5, qlen: int = 6, list_k: int = 20, topk: int = 10
) -> str:
    """DuckDB replay of reciprocal-rank fusion over the BM25 ranked
    list (same CTE chain as the bm25_search_docs oracle, k=20) and the
    exact-cosine dense ranked list (same decimal-exact arithmetic as
    the knn_cosine_topk oracle): integer RRF ticks, full-outer merge,
    tie-break on doc id."""
    return f"""
    WITH RECURSIVE t0 AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    dls AS (SELECT doc_id, len(tk) AS dl FROM t0),
    nn AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dls),
    tok AS (
      SELECT doc_id, i AS pos, tk[i] AS term
      FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)),
    tf AS (
      SELECT t.doc_id, d.dl, t.term, COUNT(*) AS tf
      FROM tok t JOIN dls d USING (doc_id)
      GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    base AS (
      SELECT term, df,
             2 * (SELECT n FROM nn) + 2 AS p0, 2 * df + 1 AS q0,
             length(bin((2 * (SELECT n FROM nn) + 2) // (2 * df + 1))) - 1
               AS kk
      FROM dfreq),
    it AS (
      SELECT term, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM base
      UNION ALL
      SELECT term, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    idf AS (
      SELECT term, acc + (CAST(kk AS BIGINT) << 20) AS idf_fp
      FROM it WHERE i = 20),
    qtok AS (
      SELECT doc_id AS qid, term, MIN(pos) AS fpos
      FROM tok WHERE doc_id < {n_queries} GROUP BY 1, 2),
    qterms AS (
      SELECT qid, term FROM (
        SELECT qid, term,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fpos) AS rn
        FROM qtok)
      WHERE rn <= {qlen}),
    sc AS (
      SELECT q.qid, t.doc_id,
             SUM(i.idf_fp *
               ((2 * (CAST(22 AS HUGEINT) * (SELECT l FROM nn)
                      * 1000000 * t.tf)
                 + (CAST(10 AS HUGEINT) * (SELECT l FROM nn) * t.tf
                    + 3 * (SELECT l FROM nn)
                    + CAST(9 AS HUGEINT) * (SELECT n FROM nn) * t.dl))
                // (2 * (CAST(10 AS HUGEINT) * (SELECT l FROM nn) * t.tf
                         + 3 * (SELECT l FROM nn)
                         + CAST(9 AS HUGEINT) * (SELECT n FROM nn) * t.dl))))
               AS ticks
      FROM qterms q JOIN tf t USING (term) JOIN idf i USING (term)
      GROUP BY 1, 2),
    bmr AS (
      SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY ticks DESC, doc_id) AS rank
        FROM sc) WHERE rank <= {list_k}),
    v AS (SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT)
                        * CAST(0.0000000001 AS DECIMAL(11,10))
                        AS DECIMAL(12,10))) AS ve
          FROM embeddings),
    qv AS (SELECT vec_id AS qid, ve AS qvec,
                  CAST(ROUND(list_sum(list_transform(ve, x -> x*x)), 12)
                       AS DOUBLE) AS qn2
           FROM v WHERE vec_id < {n_queries}),
    cv AS (SELECT vec_id, ve AS cvec,
                  CAST(ROUND(list_sum(list_transform(ve, x -> x*x)), 12)
                       AS DOUBLE) AS cn2
           FROM v),
    dsc AS (
      SELECT qid, vec_id,
             CAST(ROUND(list_sum(list_transform(list_zip(qvec, cvec),
                  p -> p[1]*p[2])), 12) AS DOUBLE)
               / (sqrt(qn2) * sqrt(cn2)) AS cos_sim
      FROM qv, cv WHERE vec_id != qid),
    dnr AS (
      SELECT qid, vec_id, rank FROM (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rank
        FROM dsc) WHERE rank <= {list_k}),
    allr AS (
      SELECT COALESCE(b.qid, d.qid) AS qid,
             COALESCE(b.doc_id, d.vec_id) AS doc,
             COALESCE(b.rank, 0) AS bm25_rank,
             COALESCE(d.rank, 0) AS dense_rank,
             COALESCE(1000000000 // (60 + b.rank), 0)
               + COALESCE(1000000000 // (60 + d.rank), 0) AS rrf_ticks
      FROM bmr b FULL OUTER JOIN dnr d
        ON d.qid = b.qid AND d.vec_id = b.doc_id)
    SELECT qid AS query_id, doc AS doc_id, bm25_rank, dense_rank,
           rrf_ticks, rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY rrf_ticks DESC, doc) AS rank
          FROM allr)
    WHERE rank <= {topk} ORDER BY query_id, rank
    """


@query("rrf_hybrid_search", _rrf_oracle_sql())
def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking and the exact-cosine dense ranking — the standard
    two-tower search architecture (sparse + dense, fused by rank so no
    score calibration is needed). Query i = the first six distinct
    tokens of document i (lexical side) + embedding vector i (dense
    side), i < 5; each side contributes its top-20; fused score =
    sum of 1e9 div (60 + rank) integer ticks (Cormack et al. 2009,
    K=60), ties on doc id; top-10 reported with the per-ranker ranks.
    Scale: fusion is rank arithmetic on candidate lists (k rows per
    query per ranker), one union + map-side-combinable groupBy — the
    corpus is touched only inside the BM25/ANN operators with their
    own scale designs. Scale notes: operators/fusion.py."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.fusion import rrf_fuse
    from rocketmq_flink_spark.operators.retrieval import bm25_topk
    from rocketmq_flink_spark.operators.similarity import knn_cosine

    tables = load_tables(spark, sf_dir)
    docs, emb = tables["documents"], tables["embeddings"]
    toks = (
        "filter(split("
        + normalize_sql("text")
        + ", '\\\\s+'), x -> x <> '')"
    )
    queries = docs.where(F.col("doc_id") < 5).selectExpr(
        "doc_id AS query_id",
        f"concat_ws(' ', slice(array_distinct({toks}), 1, 6)) AS qtext",
    )
    bm = bm25_topk(docs, queries, k=20).select(
        F.col("query_id").alias("qid"),
        F.col("doc_id").alias("doc"),
        "rank",
    )
    dn = knn_cosine(emb.where(F.col("vec_id") < 5), emb, k=20).select(
        "qid", F.col("vec_id").alias("doc"), "rank"
    )
    fused = rrf_fuse({"bm25": bm, "dense": dn}, topk=10)
    return fused.select(
        F.col("qid").alias("query_id"),
        F.col("doc").alias("doc_id"),
        "bm25_rank",
        "dense_rank",
        "rrf_ticks",
        "rank",
    ).orderBy("query_id", "rank")


def _nb_pipeline_duck(
    buckets: int = 8192, split_sql: str = "doc_id % 5 = 0"
) -> str:
    """Shared DuckDB CTE chain of the hashed-feature multinomial NB:
    train counts, Laplace-smoothed fixed-point log-likelihood ticks
    (recursive CTE, bit-equal to the Catalyst fold), prior ticks,
    per-(test doc, class) scores — ends at the `scored` CTE.
    `split_sql` is the is_test predicate (default: the original
    doc_id % 5 holdout; AUC uses a hash split — see nb_auc_eval)."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("tok")
    return f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, source,
             unnest(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')) AS tok
      FROM documents),
    occ AS (SELECT doc_id, source, {split_sql} AS is_test,
                   {h} % {buckets} AS b
            FROM tok),
    trn AS (SELECT * FROM occ WHERE NOT is_test),
    tst AS (SELECT * FROM occ WHERE is_test),
    cnt AS (SELECT source AS c, b, COUNT(*) AS cnt FROM trn GROUP BY 1, 2),
    tot AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt GROUP BY c),
    ndc AS (SELECT source AS c, COUNT(DISTINCT doc_id) AS ndc
            FROM trn GROUP BY 1),
    ndall AS (SELECT CAST(SUM(ndc) AS BIGINT) AS nd FROM ndc),
    tb AS (SELECT DISTINCT b FROM tst),
    grid AS (
      SELECT tot.c, tb.b, COALESCE(cnt.cnt, 0) + 1 AS a,
             tot.tot + {buckets} AS q
      FROM tb CROSS JOIN tot
      LEFT JOIN cnt ON cnt.c = tot.c AND cnt.b = tb.b),
    gb AS (
      SELECT c, b, q AS p0, a AS q0,
             length(bin(q // a)) - 1 AS kk
      FROM grid),
    it AS (
      SELECT c, b, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM gb
      UNION ALL
      SELECT c, b, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    model AS (
      SELECT c, b, -(acc + (CAST(kk AS BIGINT) << 20)) AS ticks
      FROM it WHERE i = 20),
    pb AS (
      SELECT c, (SELECT nd FROM ndall) AS p0, ndc AS q0,
             length(bin((SELECT nd FROM ndall) // ndc)) - 1 AS kk
      FROM ndc),
    itp AS (
      SELECT c, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM pb
      UNION ALL
      SELECT c, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM itp)
      WHERE i < 20),
    priors AS (
      SELECT c, -(acc + (CAST(kk AS BIGINT) << 20)) AS prior_ticks
      FROM itp WHERE i = 20),
    sc AS (
      SELECT t.doc_id, ANY_VALUE(t.source) AS source, m.c,
             SUM(m.ticks) AS s
      FROM tst t JOIN model m ON m.b = t.b
      GROUP BY t.doc_id, m.c),
    scored AS (
      SELECT sc.doc_id, sc.source, sc.c, sc.s + p.prior_ticks AS score
      FROM sc JOIN priors p ON p.c = sc.c)"""


def _nb_oracle_sql(buckets: int = 8192) -> str:
    """Confusion-matrix final over the shared NB pipeline."""
    return _nb_pipeline_duck(buckets) + """,
    pred AS (
      SELECT doc_id, source, c AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        FROM scored) WHERE rn = 1)
    SELECT source, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """


def _nb_margin_oracle_sql(buckets: int = 8192) -> str:
    """Calibration final over the shared NB pipeline: top1-top2 tick
    margin per test doc, margin quartiles (ntile over (margin, doc)),
    per-quartile accuracy in half-up ppm."""
    return _nb_pipeline_duck(buckets) + """,
    ranked AS (
      SELECT doc_id, source, c, score, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, c) AS rn
      FROM scored),
    top2 AS (
      SELECT doc_id, ANY_VALUE(source) AS source,
             MAX(CASE WHEN rn = 1 THEN c END) AS predicted,
             CAST(MAX(CASE WHEN rn = 1 THEN score END)
                  - MAX(CASE WHEN rn = 2 THEN score END) AS BIGINT)
               AS margin
      FROM ranked WHERE rn <= 2 GROUP BY doc_id),
    qt AS (
      SELECT *, NTILE(4) OVER (ORDER BY margin, doc_id) AS quartile
      FROM top2)
    SELECT CAST(quartile AS BIGINT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN predicted = source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(MIN(margin) AS BIGINT) AS min_margin,
           CAST(MAX(margin) AS BIGINT) AS max_margin,
           CAST((2 * 1000000 * SUM(CASE WHEN predicted = source
                                        THEN 1 ELSE 0 END)
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS accuracy_ppm
    FROM qt GROUP BY quartile ORDER BY quartile
    """


@query("nb_source_classifier", _nb_oracle_sql())
def nb_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature multinomial Naive Bayes source classifier — the
    quality/domain-classifier primitive of a pretraining pipeline
    (fastText-style scoring), trained and evaluated fully distributed.
    Train on doc_id % 5 != 0, predict the source of the held-out fifth,
    report the confusion matrix. Every log-probability is a FIXED-POINT
    integer tick (the BM25 fp_log2 fold — zero libm), so scores, argmax
    predictions, and the confusion matrix are bit-identical across
    engines. Scale: training is ONE map-side-combinable (class, bucket)
    count (no iterations); the model is <= 8192 x |classes| rows and
    BROADCASTS to the scoring join — one pass over test tokens; no
    shuffle grows with corpus size. Scale notes: operators/classify.py.
    """
    pred, truth, _ = _nb_frames(spark, sf_dir, scores=False)
    return (
        pred.join(truth, "doc")
        .groupBy("source", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "predicted")
    )


def _nb_frames(
    spark: SparkSession,
    sf_dir: str,
    scores: bool,
    split: Column | None = None,
):
    """Shared Spark-side NB pipeline: tokenize/hash, hold out
    doc_id % 5 == 0 (or the caller's `split` predicate — AUC needs a
    source-decorrelated hash split), train, broadcast-score. Returns
    (pred, truth, scored) — `scored` only materialized when
    requested."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.classify import (
        nb_model_ticks,
        nb_predict,
        nb_scores,
        nb_train,
    )
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    B = 8192
    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    occ = docs.selectExpr(
        "doc_id", "source", f"explode({toks}) AS tok"
    ).select(
        "doc_id",
        "source",
        (
            (F.col("doc_id") % 5 == 0) if split is None else split
        ).alias("is_test"),
        (hash60(F.col("tok")) % B).alias("b"),
    )
    # the normalize + token explode + per-token md5 hash is the
    # expensive corpus scan, and FIVE downstream subtrees re-evaluate
    # it inline (train counts, class doc counts, the model's
    # test-bucket grid, scoring, truth). localCheckpoint materializes
    # the hashed occurrence stream once per run (4 narrow columns,
    # executor-local), so the five subtrees read it instead of
    # re-deriving it (optimization r08).
    occ = occ.transform(_cut_big)
    trn = occ.where(~F.col("is_test"))
    tst = occ.where(F.col("is_test"))
    counts, priors = nb_train(trn, B)
    model = nb_model_ticks(counts, tst, B)
    truth = tst.select(F.col("doc_id").alias("doc"), "source").distinct()
    if scores:
        return None, truth, nb_scores(tst, model, priors)
    return nb_predict(tst, model, priors), truth, None


@query("nb_confidence_margin", _nb_margin_oracle_sql())
def nb_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration readout: the top1-top2 score margin of
    the NB source classifier, bucketed into margin quartiles, with
    per-quartile accuracy — the reliability-diagram primitive (a
    well-behaved classifier is more accurate where its margin is
    larger; the low-margin quartile tells you how much of the corpus
    needs human review or a stronger model). Margins and quartile
    assignment (ntile over (margin, doc) — total order) are exact
    integer ticks; accuracy reported in half-up ppm. Scale: same
    broadcast-scored pipeline as nb_source_classifier; the quartile
    assignment is the EXACT distributed ntile (operators/ranking.py —
    range buckets on the margin ticks, offset join, bucket-partitioned
    row_number), never a partition-less ntile window over the
    doc-scale margins. Scale notes: operators/classify.py."""
    from rocketmq_flink_spark.operators.ranking import distributed_ntile

    _, truth, scored = _nb_frames(spark, sf_dir, scores=True)
    w = Window.partitionBy("doc").orderBy(F.desc("score"), "c")
    ranked = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    top2 = ranked.groupBy("doc").agg(
        F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("predicted"),
        (
            F.max(F.when(F.col("rn") == 1, F.col("score")))
            - F.max(F.when(F.col("rn") == 2, F.col("score")))
        ).cast("long").alias("margin"),
    ).join(truth, "doc")
    # distributed_ntile reads its input three times (stats, bucket
    # totals, window); localCheckpoint materializes the per-doc margins
    # ONCE (tiny: 4 columns x test docs) so the broadcast-scored NB
    # pipeline isn't re-evaluated per pass
    top2 = top2.transform(_cut_big)
    qt = distributed_ntile(
        top2, ["margin", "doc"], "margin", tiles=4, out="quartile"
    )
    return (
        qt.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("predicted") == F.col("source"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
            F.min("margin").cast("long").alias("min_margin"),
            F.max("margin").cast("long").alias("max_margin"),
        )
        .selectExpr(
            "CAST(quartile AS BIGINT) AS quartile",
            "n_docs",
            "n_correct",
            "min_margin",
            "max_margin",
            "CAST((2 * 1000000 * n_correct + n_docs) div (2 * n_docs)"
            " AS BIGINT) AS accuracy_ppm",
        )
        .orderBy("quartile")
    )


@query(
    "source_vocab_jaccard",
    f"""
    WITH st AS (
      SELECT DISTINCT source,
             unnest(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')) AS tok
      FROM documents),
    sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS shared
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2)
    SELECT s1, s2, CAST(z1.n AS BIGINT) AS n1, CAST(z2.n AS BIGINT) AS n2,
           CAST(shared AS BIGINT) AS shared,
           CAST((2 * 1000000 * shared + (z1.n + z2.n - shared))
                // (2 * (z1.n + z2.n - shared)) AS BIGINT) AS jaccard_micro
    FROM inter JOIN sz z1 ON z1.source = s1 JOIN sz z2 ON z2.source = s2
    ORDER BY jaccard_micro DESC, s1, s2 LIMIT 20
    """,
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard similarity between corpus sources —
    the corpus-curation diagnostic for "are two crawls/dumps the same
    text distribution?" (drives mixture decisions and dedup priority
    across sources). Vocabulary = distinct normalized tokens per
    source; jaccard_micro = half-up(1e6 * |A∩B| / |A∪B|) in pure
    integer arithmetic. Scale: the self-join key is the TOKEN — each
    token fans out at most (#sources with the token)^2 <= S^2 pairs
    where S is the source count (~20), so join volume is
    O(vocab * S^2), bounded by the vocabulary (not corpus) size;
    per-source vocab sets are never collected. Top-20 most-similar
    pairs."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    st = docs.selectExpr(
        "source", f"explode({toks}) AS tok"
    ).distinct()
    sz = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("source").alias("s1"), "tok")
    b = st.select(F.col("source").alias("s2"), "tok")
    inter = (
        a.join(b, ["tok"])
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    z1 = sz.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    z2 = sz.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(z1), "s1")
        .join(F.broadcast(z2), "s2")
        .selectExpr(
            "s1",
            "s2",
            "CAST(n1 AS BIGINT) AS n1",
            "CAST(n2 AS BIGINT) AS n2",
            "CAST(shared AS BIGINT) AS shared",
            "CAST((2 * 1000000 * shared + (n1 + n2 - shared))"
            " div (2 * (n1 + n2 - shared)) AS BIGINT) AS jaccard_micro",
        )
        .orderBy(F.desc("jaccard_micro"), "s1", "s2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Corpus, retrieval and dedup analytics, continued: vocabulary growth,
# quality calibration, retrieval evaluation, sampling and mixture reports.
# ---------------------------------------------------------------------------


def _heaps_oracle_sql() -> str:
    """DuckDB replay of the Heaps-law growth curve: same decile map,
    same first-occurrence vocabulary attribution, and the fp_log2
    recursive CTE (cf. _mi_oracle_sql) for the per-step beta."""
    return f"""
    WITH RECURSIVE nrm AS (
      SELECT doc_id, list_filter(regexp_split_to_array(
               {_NORM_SQL_DUCK}, '\\s+'), x -> x <> '') AS tk
      FROM documents),
    dmap AS (SELECT doc_id, len(tk) AS ntok,
                    ntile(10) OVER (ORDER BY doc_id) - 1 AS dec
             FROM nrm),
    tok AS (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM nrm),
    tf AS (SELECT tok, MIN(doc_id) AS fdoc FROM tok GROUP BY tok),
    vdec AS (SELECT dec, CAST(COUNT(*) AS BIGINT) AS v
             FROM tf JOIN dmap ON tf.fdoc = dmap.doc_id GROUP BY dec),
    ddec AS (SELECT dec, CAST(COUNT(*) AS BIGINT) AS d,
                    CAST(SUM(ntok) AS BIGINT) AS nt
             FROM dmap GROUP BY dec),
    cum AS (SELECT ddec.dec AS dec,
              SUM(d) OVER (ORDER BY ddec.dec) AS docs_cum,
              SUM(nt) OVER (ORDER BY ddec.dec) AS tokens_cum,
              SUM(COALESCE(v, 0)) OVER (ORDER BY ddec.dec) AS vocab_cum
            FROM ddec LEFT JOIN vdec ON ddec.dec = vdec.dec),
    lg0 AS (SELECT dec, docs_cum, tokens_cum, vocab_cum,
              LAG(vocab_cum) OVER (ORDER BY dec) AS pv,
              LAG(tokens_cum) OVER (ORDER BY dec) AS pt
            FROM cum),
    fb AS (
      SELECT dec, 'v' AS wh, vocab_cum AS p0, pv AS q0 FROM lg0
      WHERE pv IS NOT NULL AND pv > 0
      UNION ALL
      SELECT dec, 'n', tokens_cum, pt FROM lg0
      WHERE pt IS NOT NULL AND pt > 0),
    it AS (
      SELECT dec, wh, length(bin(p0 // q0)) - 1 AS kk, 0 AS i, p0 AS p,
             (q0 << (length(bin(p0 // q0)) - 1)) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM fb
      UNION ALL
      SELECT dec, wh, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    tk2 AS (SELECT dec, wh, acc + (CAST(kk AS BIGINT) << 20) AS t
            FROM it WHERE i = 20),
    bet AS (SELECT v.dec AS dec, v.t AS tv, n.t AS tn
            FROM tk2 v JOIN tk2 n
              ON v.dec = n.dec AND v.wh = 'v' AND n.wh = 'n')
    SELECT CAST(c.dec AS INTEGER) AS decile,
           CAST(docs_cum AS BIGINT) AS docs_cum,
           CAST(tokens_cum AS BIGINT) AS tokens_cum,
           CAST(vocab_cum AS BIGINT) AS vocab_cum,
           CAST(CASE WHEN bet.tn IS NULL OR bet.tn = 0 THEN -1
                ELSE (2 * 1000 * bet.tv + bet.tn) // (2 * bet.tn) END
                AS BIGINT) AS beta_milli
    FROM cum c LEFT JOIN bet ON c.dec = bet.dec
    ORDER BY decile
    """


@query("heaps_law_vocab_growth", _heaps_oracle_sql())
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct-token
    count vs cumulative token count at ten doc-id-ordered corpus
    checkpoints, plus the per-step Heaps exponent beta =
    dlog2(V)/dlog2(N) in half-up milli units (fixed-point fp_log2
    ticks — zero libm, bit-identical across engines). The curve is
    what sizes a tokenizer vocabulary and predicts how much NEW
    vocabulary another 10x of data buys; a collapsing beta flags a
    saturating (or template-heavy) source. The expensive insight:
    cumulative distinct counting needs NO sequential scan — a token
    contributes to checkpoint k iff its FIRST document (one min per
    token) lands in decile <= k, so V_k is a prefix sum over ten
    buckets. Scale: one map-side-combined (token -> min doc_id), one
    doc-keyed decile join, windows over TEN rows; the decile map is the
    EXACT distributed ntile (operators/ranking.py — range buckets on
    doc_id, offset join, bucket-partitioned row_number), so no
    base-table single-partition sort remains. Beta at decile 0 is
    the -1 sentinel (no previous checkpoint)."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.ranking import distributed_ntile
    from rocketmq_flink_spark.operators.retrieval import fp_log2_sql

    docs = load_tables(spark, sf_dir)["documents"]
    base = docs.selectExpr(
        "doc_id",
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
        " AS tk",
    )
    dmap = distributed_ntile(
        base.select("doc_id", F.size("tk").alias("ntok")),
        ["doc_id"],
        "doc_id",
        10,
        out="_t10",
    ).selectExpr("doc_id", "ntok", "_t10 - 1 AS dec")
    tf = (
        base.select(F.explode(F.array_distinct("tk")).alias("tok"), "doc_id")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    vdec = (
        tf.join(
            dmap.select(F.col("doc_id").alias("fdoc"), "dec"), "fdoc"
        )
        .groupBy("dec")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    ddec = dmap.groupBy("dec").agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("ntok").cast("long").alias("nt"),
    )
    wc = Window.orderBy("dec").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        ddec.join(vdec, "dec", "left")
        .select(
            "dec",
            F.sum("d").over(wc).alias("docs_cum"),
            F.sum("nt").over(wc).alias("tokens_cum"),
            F.sum(F.coalesce("v", F.lit(0))).over(wc).alias("vocab_cum"),
        )
    )
    wl = Window.orderBy("dec")
    lg0 = cum.select(
        "dec",
        "docs_cum",
        "tokens_cum",
        "vocab_cum",
        F.lag("vocab_cum").over(wl).alias("pv"),
        F.lag("tokens_cum").over(wl).alias("pt"),
    )
    dv = fp_log2_sql("vocab_cum", "pv")
    dn = fp_log2_sql("tokens_cum", "pt")
    tick = lg0.selectExpr(
        "dec",
        "docs_cum",
        "tokens_cum",
        "vocab_cum",
        f"CASE WHEN pv IS NULL OR pv <= 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE {dv} END AS tv",
        f"CASE WHEN pt IS NULL OR pt <= 0 THEN CAST(NULL AS BIGINT)"
        f" ELSE {dn} END AS tn",
    )
    return tick.selectExpr(
        "CAST(dec AS INT) AS decile",
        "CAST(docs_cum AS BIGINT) AS docs_cum",
        "CAST(tokens_cum AS BIGINT) AS tokens_cum",
        "CAST(vocab_cum AS BIGINT) AS vocab_cum",
        "CAST(CASE WHEN tn IS NULL OR tn = 0 THEN -1"
        " ELSE (2 * 1000 * tv + tn) div (2 * tn) END AS BIGINT)"
        " AS beta_milli",
    ).orderBy("decile")


@query(
    "source_quality_calibration",
    """
    WITH per AS (
      SELECT source,
             CAST((2 * 1000000
                   * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   + greatest(length(text), 1))
                  // (2 * greatest(length(text), 1)) AS BIGINT) AS score
      FROM documents),
    rk AS (
      SELECT source, score,
             RANK() OVER (PARTITION BY source ORDER BY score) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM per),
    nm AS (
      SELECT source,
             CASE WHEN n <= 1 THEN 0
                  ELSE LEAST(((r - 1) * 1000000 // (n - 1)) // 100000, 9)
             END AS decile
      FROM rk)
    SELECT source, CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM nm GROUP BY source, decile ORDER BY source, decile
    """,
)
def source_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score calibration by per-source percentile
    rank: raw quality scores are NOT comparable across sources (a
    mid-tier web page outscores a top-tier forum post), so curation
    thresholds like "keep the top 30% of each source" need the
    rank-normalized score. Score = alpha-character share in half-up
    ppm (exact integers); percentile = floor((rank-1)*1e6/(n-1)) with
    RANK() tie handling (tie-stable in both engines — no row_number
    nondeterminism on equal scores); the decile histogram per source
    is the calibration readout (uniform ~10% per bucket up to tie
    mass, whatever the source's raw score distribution looked like).
    Scale: one projection pass (two regexp counts per doc), then a
    per-source sort — the classic range-partitionable window; the
    output is |sources| x 10 rows."""
    docs = load_tables(spark, sf_dir)["documents"]
    per = docs.selectExpr(
        "source",
        "CAST((2 * 1000000"
        " * length(regexp_replace(text, '[^A-Za-z]', ''))"
        " + greatest(length(text), 1))"
        " div (2 * greatest(length(text), 1)) AS BIGINT) AS score",
    )
    ws = Window.partitionBy("source").orderBy("score")
    wn = Window.partitionBy("source")
    rk = per.select(
        "source",
        F.rank().over(ws).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    nm = rk.selectExpr(
        "source",
        "CASE WHEN n <= 1 THEN 0"
        " ELSE LEAST(((r - 1) * 1000000 div (n - 1)) div 100000, 9)"
        " END AS decile",
    )
    return (
        nm.groupBy("source", "decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .selectExpr(
            "source", "CAST(decile AS INT) AS decile", "n_docs"
        )
        .orderBy("source", "decile")
    )


@query(
    "truncation_loss_report",
    """
    WITH per AS (
      SELECT CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)),
                                                 '\\s+')) END AS n_tok
      FROM documents),
    g AS (
      SELECT l, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN n_tok > l THEN 1 ELSE 0 END) AS BIGINT)
               AS n_truncated,
             CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
             CAST(SUM(GREATEST(n_tok - l, 0)) AS BIGINT) AS tokens_lost
      FROM per CROSS JOIN (SELECT unnest([256, 512, 1024, 2048]) AS l)
      GROUP BY l)
    SELECT CAST(l AS INTEGER) AS context_len,
           CAST(n_docs AS BIGINT) AS n_docs, n_truncated, tokens_total,
           tokens_lost,
           CAST((2 * 1000000 * tokens_lost + tokens_total)
                // (2 * tokens_total) AS BIGINT) AS loss_ppm,
           CAST((2 * 1000000 * n_truncated + n_docs)
                // (2 * n_docs) AS BIGINT) AS truncated_ppm
    FROM g ORDER BY context_len
    """,
)
def truncation_loss_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation loss curve: for each candidate training
    context length (256/512/1024/2048 tokens), how many documents
    exceed it and what share of the corpus' tokens a hard truncation
    would discard — the number that decides between truncating,
    chunking (chunk_documents_rag) and packing (pack_documents).
    Exact integer token counts (whitespace tokens, the same counter as
    text_quality_by_lang), shares in half-up ppm. Scale: ONE scan
    computing one int per document, exploded against four literal
    lengths (the 4x duplication carries a single int column, not
    text), then a four-group aggregate — map-side combinable, no
    shuffle of document bodies."""
    from rocketmq_flink_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir)["documents"]
    per = docs.select(token_count("text").alias("n_tok"))
    ex = per.select(
        "n_tok",
        F.explode(F.array(*[F.lit(x) for x in (256, 512, 1024, 2048)])).alias("l"),
    )
    g = ex.groupBy("l").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_tok") > F.col("l"), 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        F.sum(F.greatest(F.col("n_tok") - F.col("l"), F.lit(0)))
        .cast("long")
        .alias("tokens_lost"),
    )
    return g.selectExpr(
        "CAST(l AS INT) AS context_len",
        "n_docs",
        "n_truncated",
        "tokens_total",
        "tokens_lost",
        "CAST((2 * 1000000 * tokens_lost + tokens_total)"
        " div (2 * tokens_total) AS BIGINT) AS loss_ppm",
        "CAST((2 * 1000000 * n_truncated + n_docs)"
        " div (2 * n_docs) AS BIGINT) AS truncated_ppm",
    ).orderBy("context_len")


# DCG rank discounts 1/log2(rank+1) as fixed-point constants shared by
# BOTH engines: w_i = floor(2^40 / fp_log2_py(i+1, 1)) (20-bit log
# ticks; fp_log2_py is the bit-exact Python witness of the BM25 fold),
# plus their prefix sums for the ideal DCG. Constants, not runtime
# floats — the same discipline as the KS 1.358 critical coefficient.
_DCG_W = [1048576, 661578, 524288, 451597, 405644,
          373510, 349525, 330788, 315652, 303106]
_DCG_PRE = [1048576, 1710154, 2234442, 2686039, 3091683,
            3465193, 3814718, 4145506, 4461158, 4764264]


def _ndcg_oracle_sql() -> str:
    w = ", ".join(str(x) for x in _DCG_W)
    pre = ", ".join(str(x) for x in _DCG_PRE)
    return f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlab,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT)
                        * CAST(0.0000000001 AS DECIMAL(11,10))
                        AS DECIMAL(12,10))) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id, label,
            list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT)
                   * CAST(0.0000000001 AS DECIMAL(11,10))
                   AS DECIMAL(12,10))) AS cv
          FROM embeddings),
    scored AS (
      SELECT qid, qlab, c.vec_id, c.label,
             CAST(ROUND(list_sum(list_transform(list_zip(qv, cv),
                  p -> (p[1]-p[2])*(p[1]-p[2]))), 12) AS DOUBLE) AS dist2
      FROM q, c WHERE c.vec_id != qid),
    top AS (
      SELECT qid, qlab, vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist2, vec_id) AS rank
      FROM scored QUALIFY rank <= 10),
    rcnt AS (
      SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS r
      FROM q JOIN c ON c.label = q.qlab AND c.vec_id != q.qid
      GROUP BY q.qid),
    dcg AS (
      SELECT qid,
             CAST(SUM(CASE WHEN label = qlab
                  THEN ([{w}])[rank] ELSE 0 END) AS BIGINT) AS dcg_ticks,
             CAST(SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_10
      FROM top GROUP BY qid)
    SELECT dcg.qid AS qid, rcnt.r AS n_rel_corpus, dcg.hits_at_10,
           dcg.dcg_ticks,
           CAST(CASE WHEN rcnt.r = 0 THEN 0 ELSE
             (2 * 1000000 * dcg.dcg_ticks
              + ([{pre}])[LEAST(rcnt.r, 10)])
             // (2 * ([{pre}])[LEAST(rcnt.r, 10)]) END AS BIGINT)
             AS ndcg_ppm
    FROM dcg JOIN rcnt ON dcg.qid = rcnt.qid
    ORDER BY qid
    """


@query("ndcg_retrieval_eval", _ndcg_oracle_sql())
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the exact-kNN retriever with same-label binary
    relevance — the GRADED ranking metric that closes the retrieval
    family's eval loop (ann_recall_report grades set overlap; nDCG
    grades ORDER: a relevant hit at rank 1 is worth 3.3x one at rank
    10). Every 1/log2(rank+1) discount is a shared fixed-point CONSTANT
    (floor(2^40 / fp_log2_py(rank+1))) so DCG, ideal DCG (prefix-sum
    table indexed by min(|relevant|, 10)) and the final half-up ppm
    ratio are pure integer arithmetic — bit-identical across engines.
    Scale: reuses knn_bruteforce's broadcast-queries/local-top-k plan
    (no corpus shuffle); the per-label relevant-count is one
    label-keyed aggregate; everything after the top-10 is
    8-queries-sized. Swap the exact retriever for any ANN catalog
    operator to A/B ranking quality under the same metric."""
    from rocketmq_flink_spark.operators.similarity import knn_bruteforce

    emb = load_tables(spark, sf_dir)["embeddings"]
    top = knn_bruteforce(emb.where(F.col("vec_id") < 8), emb, k=10)
    lab = emb.select("vec_id", "label")
    qlab = (
        emb.where(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("qid"), F.col("label").alias("qlab"))
    )
    labc = emb.groupBy("label").agg(F.count(F.lit(1)).alias("nl"))
    rcnt = (
        qlab.join(F.broadcast(labc), qlab["qlab"] == labc["label"])
        .select("qid", "qlab", (F.col("nl") - 1).cast("long").alias("r"))
    )
    w_arr = "array(" + ", ".join(str(x) for x in _DCG_W) + ")"
    pre_arr = "array(" + ", ".join(str(x) for x in _DCG_PRE) + ")"
    j = (
        top.join(lab, "vec_id")
        .join(F.broadcast(rcnt), top["qid"] == rcnt["qid"])
        .drop(rcnt["qid"])
    )
    dcg = j.groupBy("qid", "r").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN label = qlab THEN element_at({w_arr},"
            " CAST(rank AS INT)) ELSE 0 END) AS BIGINT)"
        ).alias("dcg_ticks"),
        F.expr(
            "CAST(SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("hits_at_10"),
    )
    return dcg.selectExpr(
        "qid",
        "r AS n_rel_corpus",
        "hits_at_10",
        "dcg_ticks",
        "CAST(CASE WHEN r = 0 THEN 0 ELSE"
        f" (2 * 1000000 * dcg_ticks + element_at({pre_arr},"
        " CAST(LEAST(r, 10) AS INT)))"
        f" div (2 * element_at({pre_arr}, CAST(LEAST(r, 10) AS INT)))"
        " END AS BIGINT) AS ndcg_ppm",
    ).orderBy("qid")


@query(
    "streaming_dedup_fingerprints",
    f"""
    WITH fp AS (SELECT doc_id, md5({_NORM_SQL_DUCK}) AS f
                FROM documents),
    g AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_copies,
                 CAST(MIN(doc_id) AS BIGINT) AS keeper
          FROM fp GROUP BY f)
    SELECT f AS fingerprint, n_copies, keeper
    FROM g ORDER BY n_copies DESC, fingerprint LIMIT 20
    """,
)
def streaming_dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming exact-dedup: the documents table is consumed as a
    stream and reduced by a STATEFUL non-windowed groupBy on the md5
    fingerprint of normalized text (copies counted, min-doc_id keeper
    elected), emitted in complete mode from availableNow micro-batches
    to a memory sink — the production shape of continuous corpus
    ingestion dedup (new crawl snapshots arrive, the state store
    carries the fingerprint set forward). The oracle is the identical
    batch aggregation, so a hash match proves the streaming state
    neither loses nor double-counts groups; keeper = MIN(doc_id) makes
    the output independent of micro-batch arrival order (the
    first-seen survivor of dropDuplicates would NOT be — documented
    determinism choice, same min-id election as exact dedup). Scale:
    state is one (16-byte key, count, min) triple per DISTINCT
    fingerprint — corpus-vocabulary bounded, the same footprint the
    batch group-by shuffles; at 100 TB shard the state store by
    fingerprint range and age out fingerprints with an ingestion-time
    watermark (dropDuplicatesWithinWatermark semantics)."""
    import uuid

    from rocketmq_flink_spark.operators.dedup import normalize_sql

    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING," \
             " n_chars BIGINT"
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    g = (
        stream.selectExpr(
            "doc_id", f"md5({normalize_sql('text')}) AS f"
        )
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper"),
        )
    )
    qname = f"sdedup_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            g.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table(qname)
        .selectExpr("f AS fingerprint", "n_copies", "keeper")
        .orderBy(F.desc("n_copies"), "fingerprint")
        .limit(20)
    )


def _jsd_oracle_sql() -> str:
    """DuckDB replay of the pairwise language JSD: shared-gram joins,
    the signed fp_log2 recursive CTE (cf. _mi_oracle_sql) per
    (pair, side, gram) row, exclusive mass in closed form."""
    return f"""
    WITH RECURSIVE nrm AS (
      SELECT lang, {_NORM_SQL_DUCK} AS n FROM documents),
    tg AS (
      SELECT lang, g FROM (
        SELECT lang, unnest(list_transform(
          range(1, greatest(length(n) - 2, 1) + 1),
          i -> n[i:i+2])) AS g
        FROM nrm) WHERE length(g) = 3),
    cnt AS (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
            FROM tg GROUP BY lang, g),
    tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt
            GROUP BY lang),
    sh AS (
      SELECT a.lang AS l1, b.lang AS l2, a.g AS g, a.c AS cp, b.c AS cq,
             ta.n AS np, tb.n AS nq
      FROM cnt a JOIN cnt b ON a.g = b.g AND a.lang < b.lang
      JOIN tot ta ON ta.lang = a.lang JOIN tot tb ON tb.lang = b.lang),
    fb AS (
      SELECT l1, l2, g, 'p' AS side, cp AS w,
             2 * cp * nq AS a, cp * nq + cq * np AS b FROM sh
      UNION ALL
      SELECT l1, l2, g, 'q', cq, 2 * cq * np, cp * nq + cq * np FROM sh),
    f0 AS (
      SELECT l1, l2, g, side, w,
             CASE WHEN a >= b THEN 1 ELSE -1 END AS sgn,
             GREATEST(a, b) AS p0, LEAST(a, b) AS q0,
             length(bin(GREATEST(a, b) // LEAST(a, b))) - 1 AS kk
      FROM fb),
    it AS (
      SELECT l1, l2, g, side, w, sgn, kk, 0 AS i, p0 AS p,
             (q0 << kk) AS q, CAST(0 AS BIGINT) AS acc
      FROM f0
      UNION ALL
      SELECT l1, l2, g, side, w, sgn, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    lg AS (SELECT l1, l2, side, w,
                  sgn * (acc + (CAST(kk AS BIGINT) << 20)) AS t
           FROM it WHERE i = 20),
    ag AS (
      SELECT l1, l2,
             CAST(SUM(CASE WHEN side = 'p' THEN w * t ELSE 0 END)
                  AS HUGEINT) AS a,
             CAST(SUM(CASE WHEN side = 'p' THEN w ELSE 0 END)
                  AS HUGEINT) AS scp,
             CAST(SUM(CASE WHEN side = 'q' THEN w * t ELSE 0 END)
                  AS HUGEINT) AS c,
             CAST(SUM(CASE WHEN side = 'q' THEN w ELSE 0 END)
                  AS HUGEINT) AS scq
      FROM lg GROUP BY l1, l2),
    fin AS (
      SELECT ag.l1, ag.l2,
             (ag.a + (ta.n - ag.scp) * 1048576) * tb.n
               + (ag.c + (tb.n - ag.scq) * 1048576) * ta.n AS v,
             2 * CAST(ta.n AS HUGEINT) * tb.n * 1048576 AS den
      FROM ag JOIN tot ta ON ta.lang = ag.l1
              JOIN tot tb ON tb.lang = ag.l2)
    SELECT l1 AS lang_a, l2 AS lang_b,
           CAST(CASE WHEN v >= 0 THEN (2 * 1000000 * v + den) // (2 * den)
                ELSE -((2 * 1000000 * (-v) + den) // (2 * den)) END
                AS BIGINT) AS jsd_micro
    FROM fin ORDER BY lang_a, lang_b
    """


@query("lang_similarity_jsd", _jsd_oracle_sql())
def lang_similarity_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the character-trigram
    distributions of the corpus' languages — the distribution-level
    corpus-drift / source-similarity measure (0 = identical trigram
    mix, 1e6 micro-bits = disjoint; unlike KL it is symmetric, finite
    on non-overlapping support, and its sqrt is a metric). Every
    per-gram log term is a SIGNED fixed-point fp_log2 of the integer
    ratio 2*cp*Nq / (cp*Nq + cq*Np); exclusive (non-shared) mass
    contributes exactly 1 bit = 2^20 ticks in closed form — no outer
    join, only an inner join on shared grams plus per-language totals.
    Final combine runs in DECIMAL(38)/HUGEINT with sign-split half-up
    division. Scale: trigram counts are one map-side-combined
    (lang, gram) aggregation (gram-vocabulary bounded, NOT corpus
    bounded); the pair join fans each shared gram to the language
    pairs that share it (|langs| choose 2 worst case); the fold is
    inlined per row, zero driver sync."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import signed_fp_log2_sql
    from rocketmq_flink_spark.session import spread_for_compute

    docs = load_tables(spark, sf_dir)["documents"]
    # the trigram explode is the CPU stage: don't let a one-row-group
    # parquet scan pin it to a single task (no-op at corpus scale)
    nrm = spread_for_compute(docs.select("lang", "text")).selectExpr(
        "lang", normalize_sql("text") + " AS n"
    )
    tg = (
        nrm.selectExpr(
            "lang",
            "explode(transform(sequence(1, greatest(length(n) - 2, 1)),"
            " i -> substr(n, i, 3))) AS g",
        )
        .where(F.length("g") == 3)
    )
    cnt = tg.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    # the trigram explode (the CPU stage) feeds THREE subtrees (totals
    # + both pair-join sides); one cut over the vocabulary-bounded
    # count table stops it running 3x per action (optimization r08)
    ).transform(cut)
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    a = cnt.select(
        F.col("lang").alias("l1"), "g", F.col("c").alias("cp")
    )
    b = cnt.select(
        F.col("lang").alias("l2"), F.col("g").alias("g2"),
        F.col("c").alias("cq"),
    )
    ta = tot.select(F.col("lang").alias("l1"), F.col("n").alias("np"))
    tb = tot.select(F.col("lang").alias("l2"), F.col("n").alias("nq"))
    sh = (
        a.join(b, (a["g"] == b["g2"]) & (a["l1"] < b["l2"]))
        .join(F.broadcast(ta), "l1")
        .join(F.broadcast(tb), "l2")
    )
    sp = signed_fp_log2_sql("2 * cp * nq", "cp * nq + cq * np")
    sq = signed_fp_log2_sql("2 * cq * np", "cp * nq + cq * np")
    ag = (
        sh.selectExpr(
            "l1", "l2", "cp", "cq", "np", "nq",
            f"cp * ({sp}) AS tp",
            f"cq * ({sq}) AS tq",
        )
        .groupBy("l1", "l2")
        .agg(
            F.sum("tp").cast("decimal(38,0)").alias("a"),
            F.sum("cp").cast("decimal(38,0)").alias("scp"),
            F.sum("tq").cast("decimal(38,0)").alias("c"),
            F.sum("cq").cast("decimal(38,0)").alias("scq"),
            F.max("np").cast("decimal(38,0)").alias("np"),
            F.max("nq").cast("decimal(38,0)").alias("nq"),
        )
    )
    return ag.selectExpr(
        "l1 AS lang_a",
        "l2 AS lang_b",
        "CAST(CASE WHEN ((a + (np - scp) * 1048576) * nq"
        " + (c + (nq - scq) * 1048576) * np) >= 0 THEN"
        " (2 * 1000000 * ((a + (np - scp) * 1048576) * nq"
        " + (c + (nq - scq) * 1048576) * np) + 2 * np * nq * 1048576)"
        " div (2 * (2 * np * nq * 1048576))"
        " ELSE -((2 * 1000000 * (-((a + (np - scp) * 1048576) * nq"
        " + (c + (nq - scq) * 1048576) * np)) + 2 * np * nq * 1048576)"
        " div (2 * (2 * np * nq * 1048576))) END AS BIGINT) AS jsd_micro",
    ).orderBy("lang_a", "lang_b")


@query(
    "k_anonymity_report",
    """
    WITH g AS (
      SELECT lang, source, n_chars // 100 AS len_bucket,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY lang, source, len_bucket),
    t AS (SELECT CAST(SUM(sz) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(MIN(sz) AS BIGINT) AS min_group FROM g),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           t.n_groups, t.min_group,
           CAST(COALESCE(SUM(CASE WHEN g.sz < ks.k THEN g.sz END), 0)
                AS BIGINT) AS n_docs_violating,
           CAST((2 * 1000000
                 * COALESCE(SUM(CASE WHEN g.sz < ks.k THEN g.sz END), 0)
                 + t.n) // (2 * t.n) AS BIGINT) AS violating_ppm
    FROM ks CROSS JOIN t LEFT JOIN g ON TRUE
    GROUP BY ks.k, t.n, t.n_groups, t.min_group
    ORDER BY k
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the corpus' quasi-identifier combination
    (lang, source, length-bucket-of-100-chars): for each privacy level
    k in {2, 5, 10}, how many documents sit in an equivalence class
    smaller than k — i.e. are re-identifiable by metadata alone (the
    release-gate number privacy review asks for BEFORE the text is
    even considered; complements pii_redaction, which audits the text
    itself). Exact integer class sizes, violating share in half-up
    ppm, plus the global class count and the smallest class. Scale:
    ONE map-side-combinable group-by over the quasi-identifier tuple
    (class-vocabulary bounded output), then a 3-literal-row summary —
    nothing downstream grows with corpus size."""
    docs = load_tables(spark, sf_dir)["documents"]
    g = (
        docs.selectExpr(
            "lang", "source", "n_chars div 100 AS len_bucket"
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    t = g.agg(
        F.sum("sz").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("min_group"),
    )
    ks = load_tables(spark, sf_dir)["documents"].sparkSession.createDataFrame(
        [(2,), (5,), (10,)], "k int"
    )
    return (
        ks.crossJoin(F.broadcast(t))
        .join(F.broadcast(g), F.lit(True), "left")
        .groupBy("k", "n", "n_groups", "min_group")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_docs_violating")
        )
        .selectExpr(
            "CAST(k AS INT) AS k",
            "n_groups",
            "min_group",
            "n_docs_violating",
            "CAST((2 * 1000000 * n_docs_violating + n) div (2 * n)"
            " AS BIGINT) AS violating_ppm",
        )
        .orderBy("k")
    )


@query(
    "mann_kendall_trend_daily",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nd FROM d),
    ss AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END)
                  AS HUGEINT) AS s
      FROM d a JOIN d b ON a.day < b.day),
    tt AS (
      SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS HUGEINT),
                      0) AS tie
      FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t FROM d GROUP BY x) z),
    f AS (
      SELECT (SELECT nd FROM nn) AS nd, (SELECT s FROM ss) AS s,
             (SELECT tie FROM tt) AS tie)
    SELECT CAST(nd AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           CAST(nd * (nd - 1) * (2 * nd + 5) - tie AS BIGINT) AS var18,
           CAST(CASE WHEN s >= 0 THEN
                  (2 * 1000000 * s + nd * (nd - 1) // 2)
                    // (2 * (nd * (nd - 1) // 2))
                ELSE -((2 * 1000000 * (-s) + nd * (nd - 1) // 2)
                    // (2 * (nd * (nd - 1) // 2))) END AS BIGINT)
             AS tau_ppm,
           CAST(CASE WHEN s = 0 THEN 0
                WHEN 18000000 * (abs(s) - 1) * (abs(s) - 1)
                     > 3841600 * (nd * (nd - 1) * (2 * nd + 5) - tie)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM f
    """,
)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-count series — the
    nonparametric answer to "IS there a monotone trend" (a slope
    estimator would answer "how steep"). Everything integer-exact:
    S = sum of pairwise sign(x_b - x_a); the tie-corrected variance is
    reported as
    var18 = 18*Var = n(n-1)(2n+5) - sum_t t(t-1)(2t+5); Kendall tau_a
    in half-up ppm; and the alpha=0.05 two-sided decision uses the
    continuity-corrected z SQUARED so no sqrt is ever taken:
    reject iff 18e6*(|S|-1)^2 > 3841600*var18 (z_crit^2 = 3.8416
    exactly). Scale: the pairwise stage is CALENDAR-bounded (days^2),
    the daily series one map-side-combined count; nothing grows with
    raw event volume. One row."""
    ev = load_tables(spark, sf_dir)["events"]
    dec = "decimal(38,0)"
    d = (
        ev.select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    a = d.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = d.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .select(
            F.when(F.col("xb") > F.col("xa"), F.lit(1))
            .when(F.col("xb") < F.col("xa"), F.lit(-1))
            .otherwise(F.lit(0))
            .alias("sg")
        )
        .agg(F.sum("sg").cast(dec).alias("s"))
    )
    nn = d.agg(F.count(F.lit(1)).cast(dec).alias("nd"))
    tie = (
        d.groupBy("x")
        .agg(F.count(F.lit(1)).cast(dec).alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0).cast(dec),
            ).alias("tie")
        )
    )
    f = nn.crossJoin(s).crossJoin(tie)
    return f.selectExpr(
        "CAST(nd AS BIGINT) AS n_days",
        "CAST(s AS BIGINT) AS s_stat",
        "CAST(nd * (nd - 1) * (2 * nd + 5) - tie AS BIGINT) AS var18",
        "CAST(CASE WHEN s >= 0 THEN"
        "  (2 * 1000000 * s + nd * (nd - 1) div 2)"
        "    div (2 * (nd * (nd - 1) div 2))"
        " ELSE -((2 * 1000000 * (-s) + nd * (nd - 1) div 2)"
        "    div (2 * (nd * (nd - 1) div 2))) END AS BIGINT) AS tau_ppm",
        "CAST(CASE WHEN s = 0 THEN 0"
        " WHEN 18000000 * (abs(s) - 1) * (abs(s) - 1)"
        "      > 3841600 * (nd * (nd - 1) * (2 * nd + 5) - tie)"
        " THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct",
    )


@query(
    "domain_cap_sample",
    """
    WITH r AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS
                 VARCHAR)), 1, 15))::BIGINT, doc_id) AS rk
      FROM documents),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(SUM(n_chars) AS BIGINT) AS chars_total,
             CAST(COALESCE(SUM(CASE WHEN rk <= 5 THEN n_chars END), 0)
               AS BIGINT) AS chars_kept
      FROM r GROUP BY source)
    SELECT source, n_docs, n_kept, chars_total, chars_kept,
           CAST((2 * 1000000 * chars_kept + chars_total)
                // (2 * chars_total) AS BIGINT) AS retention_ppm
    FROM s ORDER BY source
    """,
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the web-corpus curation primitive
    (CCNet/RefinedWeb style: no single domain may contribute more than
    K documents per language) made DETERMINISTIC: the K survivors of
    each (source, lang) group are chosen by portable-hash rank
    (hash60('cap:'||doc_id), doc_id tie-break), so the sample is a
    pure function of the data — invariant under partitioning, retries,
    and engine. Reports per source: docs kept vs total and the char
    mass retained (half-up ppm). Scale: ONE window partitioned by the
    group key (hash-partitioned, no global order), everything else
    map-side combined; group skew bounded by the cap itself
    downstream. K = 5 per (source, lang)."""
    from rocketmq_flink_spark.functions.porthash import hash60

    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("source", "lang").orderBy(
        hash60(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    r = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    s = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rk") <= 5, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.coalesce(
            F.sum(F.when(F.col("rk") <= 5, F.col("n_chars"))), F.lit(0)
        )
        .cast("long")
        .alias("chars_kept"),
    )
    return s.selectExpr(
        "source",
        "n_docs",
        "n_kept",
        "chars_total",
        "chars_kept",
        "CAST((2 * 1000000 * chars_kept + chars_total)"
        " div (2 * chars_total) AS BIGINT) AS retention_ppm",
    ).orderBy("source")


@query(
    "l_diversity_report",
    """
    WITH g AS (
      SELECT source, n_chars // 100 AS len_bucket,
             CAST(COUNT(*) AS BIGINT) AS sz,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS d
      FROM documents GROUP BY source, len_bucket),
    t AS (SELECT CAST(SUM(sz) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_classes,
                 CAST(MIN(d) AS BIGINT) AS min_diversity FROM g),
    ls AS (SELECT unnest([2, 3]) AS l)
    SELECT CAST(ls.l AS INTEGER) AS l,
           t.n_classes, t.min_diversity,
           CAST(COALESCE(SUM(CASE WHEN g.d < ls.l THEN 1 END), 0)
                AS BIGINT) AS classes_violating,
           CAST(COALESCE(SUM(CASE WHEN g.d < ls.l THEN g.sz END), 0)
                AS BIGINT) AS docs_violating,
           CAST((2 * 1000000
                 * COALESCE(SUM(CASE WHEN g.d < ls.l THEN g.sz END), 0)
                 + t.n) // (2 * t.n) AS BIGINT) AS violating_ppm
    FROM ls CROSS JOIN t LEFT JOIN g ON TRUE
    GROUP BY ls.l, t.n, t.n_classes, t.min_diversity
    ORDER BY l
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's sharper sibling
    (k_anonymity_report counts SMALL quasi-identifier classes; this
    counts classes whose SENSITIVE attribute is near-constant, the
    homogeneity attack k-anonymity misses). Quasi-identifier =
    (source, 100-char length bucket), sensitive = lang; for l in
    {2, 3}, report the classes with fewer than l distinct sensitive
    values and the documents they expose (half-up ppm share). Scale:
    one map-side group-by over the QI tuple with a distinct-count
    (class-vocabulary bounded), then a 2-literal-row summary."""
    docs = load_tables(spark, sf_dir)["documents"]
    g = (
        docs.selectExpr("source", "n_chars div 100 AS len_bucket", "lang")
        .groupBy("source", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz"),
            F.countDistinct("lang").cast("long").alias("d"),
        )
    )
    t = g.agg(
        F.sum("sz").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("d").cast("long").alias("min_diversity"),
    )
    ls = docs.sparkSession.createDataFrame([(2,), (3,)], "l int")
    return (
        ls.crossJoin(F.broadcast(t))
        .join(F.broadcast(g), F.lit(True), "left")
        .groupBy("l", "n", "n_classes", "min_diversity")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") < F.col("l"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("classes_violating"),
            F.coalesce(
                F.sum(F.when(F.col("d") < F.col("l"), F.col("sz"))),
                F.lit(0),
            )
            .cast("long")
            .alias("docs_violating"),
        )
        .selectExpr(
            "CAST(l AS INT) AS l",
            "n_classes",
            "min_diversity",
            "classes_violating",
            "docs_violating",
            "CAST((2 * 1000000 * docs_violating + n) div (2 * n)"
            " AS BIGINT) AS violating_ppm",
        )
        .orderBy("l")
    )


@query(
    "ams_f2_tokens",
    f"""
    WITH tc AS (
      SELECT tok, CAST(COUNT(*) AS HUGEINT) AS c
      FROM (SELECT unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY tok),
    js AS (SELECT unnest(range(16)) AS j),
    sk AS (
      SELECT js.j,
             CAST(SUM(tc.c * (CASE WHEN
               (('0x' || substr(md5('ams' || CAST(js.j AS VARCHAR)
                  || ':' || tc.tok), 1, 15))::BIGINT) % 2 = 0
               THEN 1 ELSE -1 END)) AS HUGEINT) AS z
      FROM js CROSS JOIN tc GROUP BY js.j),
    est AS (
      SELECT z * z AS e,
             ROW_NUMBER() OVER (ORDER BY z * z, j) AS rn
      FROM sk),
    med AS (SELECT e FROM est WHERE rn = 8),
    ex AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(c * c) AS HUGEINT) AS f2
      FROM tc)
    SELECT ex.n_tokens, ex.vocab,
           CAST(ex.f2 AS BIGINT) AS f2_exact,
           CAST(med.e AS BIGINT) AS f2_est,
           CAST(CASE WHEN med.e >= ex.f2 THEN
                  (2 * 1000000 * (med.e - ex.f2) + ex.f2) // (2 * ex.f2)
                ELSE -((2 * 1000000 * (ex.f2 - med.e) + ex.f2)
                  // (2 * ex.f2)) END AS BIGINT) AS rel_err_ppm
    FROM ex CROSS JOIN med
    """,
)
def ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch over
    the token stream — F2 = sum c_tok^2 (the self-join size / skew
    gauge) estimated by 16 independent +-1-sign sketches
    z_j = sum c * sign_j(tok), est = lower-median of z_j^2; the sign
    bit is the parity of the portable hash60('ams<j>:'||tok), so both
    engines draw the SAME pseudo-random signs and the sketch values
    (not just the estimate) are hash-checkable. The fifth mergeable
    sketch next to HLL / Count-Min / histogram / KMV: each z_j is a
    plain SUM — partial aggregates combine by addition, the cluster
    story is one map-side-combined pass. Signed relative error in
    half-up ppm against the exact F2 (vocabulary-side, also one
    combine). Scale: the 16-way expansion runs over the VOCABULARY,
    never the corpus; sketch state is 16 integers."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.functions.porthash import hash60_spark_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    dec = "decimal(38,0)"
    tc = (
        docs.selectExpr(f"explode({toks}) AS tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
    )
    js = docs.sparkSession.range(16).select(
        F.col("id").cast("int").alias("j")
    )
    h = hash60_spark_sql(
        "concat('ams', CAST(j AS STRING), ':', tok)"
    )
    sk = (
        js.crossJoin(tc)
        .selectExpr(
            "j",
            f"c * (CASE WHEN ({h}) % 2 = 0 THEN 1 ELSE -1 END) AS term",
        )
        .groupBy("j")
        .agg(F.sum("term").cast(dec).alias("z"))
    )
    est = sk.select(
        (F.col("z") * F.col("z")).alias("e"),
        F.row_number().over(
            Window.orderBy((F.col("z") * F.col("z")).asc(), F.col("j"))
        ).alias("rn"),
    )
    med = est.where(F.col("rn") == 8).select("e")
    ex = tc.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c") * F.col("c")).cast(dec).alias("f2"),
    )
    return ex.crossJoin(F.broadcast(med)).selectExpr(
        "n_tokens",
        "vocab",
        "CAST(f2 AS BIGINT) AS f2_exact",
        "CAST(e AS BIGINT) AS f2_est",
        "CAST(CASE WHEN e >= f2 THEN"
        "  (2 * 1000000 * (e - f2) + f2) div (2 * f2)"
        " ELSE -((2 * 1000000 * (f2 - e) + f2) div (2 * f2)) END"
        " AS BIGINT) AS rel_err_ppm",
    )


def _fp_log2_cte(prefix: str, vals_cte: str) -> str:
    """DuckDB replay of the fixed-point log2 fold (the BM25
    fp_log2_sql recurrence, 20 fraction bits) over a CTE of DISTINCT
    positive integers `v` — emits `{prefix}lg(v, lg)`. Must appear
    inside a WITH RECURSIVE. Factored out so every new oracle stops
    hand-copying the iteration block (token_entropy et al. predate
    this helper)."""
    p = prefix
    return f"""
    {p}b AS (SELECT v, length(bin(v)) - 1 AS kk FROM {vals_cte}),
    {p}it AS (
      SELECT v, kk, 0 AS i, v AS p, (CAST(1 AS BIGINT) << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM {p}b
      UNION ALL
      SELECT v, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM {p}it)
      WHERE i < 20),
    {p}lg AS (
      SELECT v, acc + (CAST(kk AS BIGINT) << 20) AS lg
      FROM {p}it WHERE i = 20)"""


def _zipf_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE tc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source, tok),
    rk AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, tok) AS r
      FROM tc),
    top AS (SELECT source, r, c FROM rk WHERE r <= 64),
    dv AS (
      -- plain UNION would run WITH RECURSIVE's union machinery here
      -- (no dedup); the subquery + DISTINCT sidesteps it
      SELECT DISTINCT v FROM (
        SELECT r AS v FROM top UNION ALL SELECT c FROM top)),
    {_fp_log2_cte('z', 'dv')},
    pts AS (
      SELECT t.source, CAST(lr.lg AS HUGEINT) AS x,
             CAST(lc.lg AS HUGEINT) AS y
      FROM top t JOIN zlg lr ON lr.v = t.r JOIN zlg lc ON lc.v = t.c),
    ag AS (
      SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY source),
    sl AS (
      SELECT source, n, n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den
      FROM ag)
    SELECT source, CAST(n AS BIGINT) AS n_top,
           CAST(CASE WHEN num >= 0 THEN
                  (2 * 1000000 * num + den) // (2 * den)
                ELSE -((2 * 1000000 * (-num) + den) // (2 * den)) END
                AS BIGINT) AS zipf_slope_micro
    FROM sl ORDER BY source
    """


@query("zipf_slope_by_source", _zipf_oracle_sql())
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope per source — the log-log OLS slope
    over the top-64 tokens (natural text ~ -1; templated/boilerplate
    sources flatten or steepen), the power-law companion to
    heaps_law_vocab_growth's type-token curve. Both axes are
    fixed-point fp_log2 ticks of exact integers (rank, count), the
    slope is the exact rational (n*Sxy - Sx*Sy)/(n*Sxx - Sx*Sx) on
    those ticks, reported in signed half-up micro — no libm anywhere.
    Scale: the (source, token) count is one map-side combine; ranking
    is a per-source window over the vocabulary; the regression folds
    64 rows per source. One row per source."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import fp_log2_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "tok")
    top = (
        tc.select("source", "c", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 64)
    )
    pts = top.selectExpr(
        "source",
        f"CAST({fp_log2_sql('r', '1')} AS DECIMAL(38,0)) AS x",
        f"CAST({fp_log2_sql('c', '1')} AS DECIMAL(38,0)) AS y",
    )
    ag = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    sl = ag.selectExpr(
        "source",
        "n",
        "n * sxy - sx * sy AS num",
        "n * sxx - sx * sx AS den",
    )
    return sl.selectExpr(
        "source",
        "CAST(n AS BIGINT) AS n_top",
        "CAST(CASE WHEN num >= 0 THEN"
        "  (2 * 1000000 * num + den) div (2 * den)"
        " ELSE -((2 * 1000000 * (-num) + den) div (2 * den)) END"
        " AS BIGINT) AS zipf_slope_micro",
    ).orderBy("source")


@query(
    "audio_energy_frames",
    """
    WITH ids AS (SELECT doc_id AS media_id FROM documents
                 WHERE doc_id < 24 AND doc_id % 2 = 1),
    w AS (SELECT media_id, 1000 + media_id * 10 AS nf FROM ids),
    s AS (
      SELECT media_id, i.g AS i,
             ((media_id * 31 + i.g * 17) % 65536) - 32768 AS s
      FROM w, range(1300) i(g) WHERE i.g < nf),
    fr AS (
      SELECT media_id, i // 256 AS frame_no, i, s,
             LAG(s) OVER (PARTITION BY media_id, i // 256 ORDER BY i)
               AS prev
      FROM s)
    SELECT media_id, frame_no,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_cross,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak
    FROM fr GROUP BY media_id, frame_no
    ORDER BY media_id, frame_no
    """,
)
def audio_energy_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio content decode, framed: WAV payloads (raw PCM16
    after the RIFF chunks — numpy frombuffer IS the decoder, nothing
    stubbed) are sliced into 256-sample frames; per frame the energy
    (sum of squares), strict zero-crossing count, and peak amplitude —
    the VAD/silence-trim/loudness primitives of an audio-corpus
    pipeline (completes the multimodal trio: image pixels =
    media_pixel_features, video scene cuts = scene_change_frames,
    audio frames = here). The payloads carry the deterministic
    sample pattern ((31*id+17*i) mod 65536) - 32768, so the oracle
    REGENERATES the same samples with range() arithmetic and
    hash-checks decode -> frame -> aggregate bit-for-bit. Scale: one
    Arrow hop, frame-sized output (never sample-sized rows on the
    Spark side), payloads never touch the driver."""
    from rocketmq_flink_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_frame_energy,
        encode_wav_pattern,
    )
    import pandas as pd_mod

    ids = (
        load_tables(spark, sf_dir)["documents"]
        .where((F.col("doc_id") < 24) & (F.col("doc_id") % 2 == 1))
        .select(F.col("doc_id").alias("media_id"))
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "media_type": "audio/wav",
                        "payload": encode_wav_pattern(
                            mid, 8000, 1000 + mid * 10
                        ),
                        "meta": {"origin": "synthetic"},
                    }
                )
            yield pd_mod.DataFrame(rows)

    media = ids.mapInPandas(synth, schema=MEDIA_SCHEMA)
    return audio_frame_energy(media, frame_len=256).orderBy(
        "media_id", "frame_no"
    )


def _mmr_oracle_sql(k: int = 5, pool: int = 16) -> str:
    """DuckDB replay of greedy MMR (lambda = 1/2 distance form):
    staged MATERIALIZED CTEs carry the running min-distance-to-
    selected column over the shrinking pool, same hash60 query seed
    and ROUND(.,12)+id tie-breaks as similarity.mmr_select."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("'mmrq:' || CAST(vec_id AS VARCHAR)")
    l2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    parts = [f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT)
                 * CAST(0.0000000001 AS DECIMAL(11,10))
                 AS DECIMAL(12,10))) AS v
      FROM embeddings),
    qv AS MATERIALIZED (
      SELECT vec_id, v FROM c ORDER BY {h}, vec_id LIMIT 1),
    pool AS MATERIALIZED (
      SELECT c.vec_id, c.v, {l2.format(a="c.v", b="qv.v")} AS rd
      FROM c, qv WHERE c.vec_id <> qv.vec_id
      ORDER BY ROUND({l2.format(a="c.v", b="qv.v")}, 12), c.vec_id
      LIMIT {pool}),
    s1 AS MATERIALIZED (
      SELECT vec_id, v, rd FROM pool
      ORDER BY ROUND(rd, 12), vec_id LIMIT 1),
    d1 AS MATERIALIZED (
      SELECT p.vec_id, p.v, p.rd,
             {l2.format(a="p.v", b="s.v")} AS dmin
      FROM pool p, s1 s WHERE p.vec_id <> s.vec_id)"""]
    for t in range(2, k + 1):
        p = t - 1
        parts.append(f"""
    s{t} AS MATERIALIZED (
      SELECT vec_id, v, rd, dmin - rd AS gain FROM d{p}
      ORDER BY ROUND(dmin - rd, 12) DESC, vec_id LIMIT 1)""")
        if t < k:
            parts.append(f"""
    d{t} AS MATERIALIZED (
      SELECT d.vec_id, d.v, d.rd,
             LEAST(d.dmin, {l2.format(a="d.v", b="s.v")}) AS dmin
      FROM d{p} d, s{t} s WHERE d.vec_id <> s.vec_id)""")
    unions = "\n      UNION ALL ".join(
        ["SELECT 1 AS rank, vec_id,"
         " CAST(ROUND(rd, 12) AS DOUBLE) AS rel_dist2,"
         " 0.0 AS mmr_gain FROM s1"]
        + [
            f"SELECT {t}, vec_id, CAST(ROUND(rd, 12) AS DOUBLE),"
            f" CAST(ROUND(gain, 12) AS DOUBLE) FROM s{t}"
            for t in range(2, k + 1)
        ]
    )
    return ",".join(parts) + f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, rel_dist2, mmr_gain
    FROM ({unions}) ORDER BY rank
    """


@query("mmr_diversified_topk", _mmr_oracle_sql(k=5, pool=16))
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 retrieval from the 16-candidate pool of a
    hash-seeded query vector — the reranker that keeps a RAG result
    list from being five copies of the same passage. See
    operators/similarity.mmr_select for the exact-decimal greedy
    design (lambda = 1/2 distance form, ROUND(.,12)+id tie-breaks);
    the oracle replays every selection step in staged SQL. Scale: the
    only corpus-scale stage is the top-pool nearest-neighbor cut; the
    greedy loop is pool-sized with one model-sized row per step."""
    from rocketmq_flink_spark.operators.similarity import mmr_select

    emb = load_tables(spark, sf_dir)["embeddings"]
    return mmr_select(emb, k=5, pool=16).orderBy("rank")


def _nb_auc_oracle_sql(buckets: int = 8192) -> str:
    """One-vs-rest AUC final over the shared NB pipeline: exact
    Mann-Whitney rank-sum on the integer score ticks, ties counted
    half (doubled U statistic keeps everything integer). Uses a HASH
    holdout — the doc_id % 5 split correlates perfectly with source
    on the fixture (whole classes held out -> no positives to rank);
    the hash split keeps every class on both sides."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    split = (
        hash60_sql("'nbsplit:' || CAST(doc_id AS VARCHAR)") + " % 5 = 0"
    )
    return _nb_pipeline_duck(buckets, split_sql=split) + """,
    lab AS (SELECT c, score, (source = c) AS is_pos FROM scored),
    g AS (
      SELECT c, score,
             CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS HUGEINT)
               AS pos,
             CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS HUGEINT)
               AS neg
      FROM lab GROUP BY c, score),
    w AS (
      SELECT c, pos, neg,
             COALESCE(SUM(neg) OVER (PARTITION BY c ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cnb
      FROM g),
    ag AS (
      SELECT c, CAST(SUM(pos) AS HUGEINT) AS p,
             CAST(SUM(neg) AS HUGEINT) AS n,
             CAST(SUM(pos * (2 * cnb + neg)) AS HUGEINT) AS u2
      FROM w GROUP BY c)
    SELECT c AS source_class,
           CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           CAST((2000000 * u2 + 2 * p * n) // (4 * p * n) AS BIGINT)
             AS auc_ppm
    FROM ag WHERE p > 0 AND n > 0 ORDER BY source_class
    """


@query("nb_auc_eval", _nb_auc_oracle_sql())
def nb_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest ROC AUC per class for the NB source classifier —
    the threshold-free eval that completes the classifier-metrics
    trio (confusion matrix = nb_source_classifier, calibration =
    nb_confidence_margin, ranking quality = here). AUC is computed as
    the exact Mann-Whitney statistic on the INTEGER score ticks:
    group (class, score) once, one ordered pass accumulates, for each
    positive, the negatives scored strictly below plus half the tied
    ones — U is kept DOUBLED so ties never leave the integers, and
    the final AUC = U2/(2PN) is one half-up ppm rounding (HUGEINT /
    DECIMAL(38,0), safe at any class size). Scale: scoring is the
    same broadcast NB pipeline; the rank pass runs per class over
    (class, DISTINCT score) groups — test-doc bounded — partitioned
    by class (no global window). One row per class present in both
    label groups. Holdout = hash60('nbsplit:'||doc_id) % 5 == 0 (NOT
    the doc_id % 5 split of the confusion-matrix query: that one
    correlates perfectly with source on the fixture, leaving zero
    positives per class to rank)."""
    from rocketmq_flink_spark.functions.porthash import hash60

    split = (
        hash60(F.concat(F.lit("nbsplit:"), F.col("doc_id").cast("string")))
        % 5
        == 0
    )
    _, truth, scored = _nb_frames(spark, sf_dir, scores=True, split=split)
    dec = "decimal(38,0)"
    lab = scored.join(F.broadcast(truth), "doc").select(
        "c", "score", (F.col("source") == F.col("c")).alias("is_pos")
    )
    g = lab.groupBy("c", "score").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
        .cast(dec)
        .alias("pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1))
        .cast(dec)
        .alias("neg"),
    )
    wpre = (
        Window.partitionBy("c")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = g.select(
        "c",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(wpre), F.lit(0).cast(dec)).alias(
            "cnb"
        ),
    )
    ag = w.groupBy("c").agg(
        F.sum("pos").cast(dec).alias("p"),
        F.sum("neg").cast(dec).alias("n"),
        F.sum(F.col("pos") * (2 * F.col("cnb") + F.col("neg")))
        .cast(dec)
        .alias("u2"),
    )
    return (
        ag.where((F.col("p") > 0) & (F.col("n") > 0))
        .selectExpr(
            "c AS source_class",
            "CAST(p AS BIGINT) AS n_pos",
            "CAST(n AS BIGINT) AS n_neg",
            "CAST((2000000 * u2 + 2 * p * n) div (4 * p * n) AS BIGINT)"
            " AS auc_ppm",
        )
        .orderBy("source_class")
    )


@query(
    "streaming_token_counts",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')) AS tok
      FROM documents)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM toks GROUP BY tok ORDER BY n_occurrences DESC, tok LIMIT 20
    """,
)
def streaming_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming heavy-hitter tracking: the documents table is
    consumed as a stream, tokenized in-flight, and reduced by a
    stateful non-windowed token count (complete mode, availableNow
    micro-batches, memory sink) — the continuous-ingestion view of
    vocabulary accounting (the exact companion to the Count-Min
    sketch: CMS approximates this stream with bounded memory; this
    anchor proves the exact streaming path). Oracle = the identical
    batch occurrence count, so a hash match proves the streaming
    aggregation state neither loses nor double-counts under
    micro-batching; occurrence counts (unlike first-seen orderings)
    are arrival-order independent by construction. Scale: state is
    one (token, count) pair per DISTINCT token — vocabulary bounded;
    at 100 TB swap in the CMS for fixed memory or age tokens out with
    a watermark. Top-20 by (count, token)."""
    import uuid

    from rocketmq_flink_spark.operators.dedup import normalize_sql

    schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    g = (
        stream.selectExpr(f"explode({toks}) AS tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    qname = f"stok_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            g.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table(qname)
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(20)
    )


@query(
    "cross_source_duplication",
    f"""
    WITH fp AS (
      SELECT source,
             md5(array_to_string(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')[1:16], ' ')) AS f
      FROM documents),
    fs AS (
      SELECT f, list_sort(list_distinct(list(source))) AS ss
      FROM fp GROUP BY f),
    pr AS (
      SELECT unnest(flatten(list_transform(range(1, len(ss)),
               i -> list_transform(range(i + 1, len(ss) + 1),
                 j -> struct_pack(sa := ss[i], sb := ss[j]))))) AS p
      FROM fs WHERE len(ss) >= 2)
    SELECT p.sa AS source_a, p.sb AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
    FROM pr GROUP BY 1, 2
    ORDER BY shared_fingerprints DESC, source_a, source_b
    LIMIT 20
    """,
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: which source pairs share
    duplicated OPENINGS (md5 of the first 16 normalized tokens — the
    boilerplate/template prefix fingerprint; whole-document md5 is a
    strictly stronger key that the fixture only trips at sf0.1) — the
    provenance signal that separates mirror/scrape relationships from
    independent sources, deciding which source to DOWN-weight before
    mixture fitting (dedup alone removes the copies but not the
    double-counted source credit). Per fingerprint the DISTINCT
    source set is collapsed first, so a 10^6-copy template costs one
    row before pair expansion (the LSH representative-collapse
    discipline); pairs are bounded by C(|sources|,2) per fingerprint.
    Top-20 pairs by shared fingerprints. Scale: one fingerprint
    group-by (map-side combined), source sets are |sources|-bounded
    arrays, pair counting is vocabulary-sized."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    fp = docs.selectExpr(
        "source",
        f"md5(concat_ws(' ', slice({toks}, 1, 16))) AS f",
    )
    fs = fp.groupBy("f").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    pr = fs.where(F.size("ss") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ss) - 2),"
                " i -> transform(sequence(i + 1, size(ss) - 1),"
                "  j -> struct(ss[i] AS sa, ss[j] AS sb))))"
            )
        ).alias("p")
    )
    return (
        pr.groupBy(
            F.col("p.sa").alias("source_a"),
            F.col("p.sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fingerprints"))
        .orderBy(
            F.desc("shared_fingerprints"), "source_a", "source_b"
        )
        .limit(20)
    )


@query(
    "phrase_search_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, tp.i - 1 AS pos, tp.t AS tok
      FROM (SELECT doc_id, list_filter(
              regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
              x -> x <> '') AS arr
            FROM documents) d,
           LATERAL (SELECT unnest(arr) AS t,
                           generate_subscripts(arr, 1) AS i) tp),
    tri AS (
      SELECT doc_id, pos, tok AS t1,
             LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
             LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
      FROM tok),
    ph AS (
      SELECT t1 || ' ' || t2 || ' ' || t3 AS phrase,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM tri WHERE t3 IS NOT NULL GROUP BY 1),
    q AS (SELECT phrase FROM ph ORDER BY c DESC, phrase LIMIT 1),
    hits AS (
      SELECT tri.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM tri JOIN q ON tri.t1 || ' ' || tri.t2 || ' ' || tri.t3
                         = q.phrase
      GROUP BY tri.doc_id)
    SELECT h.doc_id, q.phrase, h.n_occurrences
    FROM hits h CROSS JOIN q
    ORDER BY h.n_occurrences DESC, h.doc_id LIMIT 10
    """,
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search — the positional-postings primitive BM25
    (bag-of-words) cannot express: tokenize with positions, slide a
    3-token window per document, and rank documents by occurrences of
    the query phrase. The query phrase is derived deterministically
    from the corpus itself (its most frequent token trigram, ties to
    the lexicographically smallest), so the whole flow — positional
    index build, phrase frequency mining, phrase lookup — is
    hash-certified end to end. Scale: positions come from ONE
    posexplode pass; the trigram window is doc-partitioned (no global
    order); the phrase probe is an equi-join against a one-row
    broadcast; top-10 is TakeOrdered. A real engine would persist the
    (phrase-hash -> postings) table this query builds in-flight."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tok = docs.selectExpr(
        "doc_id", f"posexplode({toks}) AS (pos, tok)"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = tok.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("tok"),
            F.lead("tok", 1).over(w),
            F.lead("tok", 2).over(w),
        ).alias("phrase"),
        F.lead("tok", 2).over(w).isNotNull().alias("full"),
    ).where(F.col("full"))
    q = (
        tri.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "phrase")
        .limit(1)
        .select("phrase")
    )
    hits = (
        tri.join(F.broadcast(q), "phrase")
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    return (
        hits.select("doc_id", "phrase", "n_occurrences")
        .orderBy(F.desc("n_occurrences"), "doc_id")
        .limit(10)
    )


@query(
    "token_budget_waterfill",
    f"""
    WITH tc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS m
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source),
    rk AS (
      SELECT source, m,
             ROW_NUMBER() OVER (ORDER BY m, source) AS i,
             SUM(m) OVER (ORDER BY m, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(m) OVER () AS BIGINT) AS tot
      FROM tc),
    bb AS (SELECT CAST(MAX(tot) // 2 AS BIGINT) AS b,
                  CAST(MAX(n) AS BIGINT) AS n,
                  CAST(MAX(m) AS BIGINT) AS mmax
           FROM rk),
    seg AS (
      SELECT MIN(rk.i) AS i0
      FROM rk CROSS JOIN bb
      WHERE (rk.p - rk.m) + rk.m * (bb.n - rk.i + 1) > bb.b),
    lvl AS (
      SELECT CASE WHEN seg.i0 IS NULL THEN bb.mmax
             ELSE (bb.b - COALESCE(
                     (SELECT p FROM rk WHERE i = seg.i0 - 1), 0))
                  // (bb.n - seg.i0 + 1) END AS lev,
             bb.b AS b
      FROM bb LEFT JOIN seg ON TRUE)
    SELECT rk.source, rk.m AS tokens,
           CAST(LEAST(rk.m, lvl.lev) AS BIGINT) AS allocated,
           CAST(CASE WHEN rk.m > lvl.lev THEN 1 ELSE 0 END AS BIGINT)
             AS capped,
           CAST(lvl.lev AS BIGINT) AS water_level,
           CAST(lvl.b - (SELECT SUM(LEAST(r2.m, lvl.lev)) FROM rk r2)
                AS BIGINT) AS budget_remainder
    FROM rk CROSS JOIN lvl ORDER BY rk.source
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation by WATER-FILLING — the deterministic
    answer to "we can afford B tokens total; how much from each
    source?": every source keeps its full mass up to a common water
    level L, heavy sources are capped at L, and L is the exact integer
    level maximizing use of the budget (B = half the corpus here).
    Closed form over the mass-sorted prefix sums: the first index
    where full-allocation-below + level*(remaining) exceeds B pins the
    segment, L = (B - prefix) div (#capped). The sub-|sources|
    remainder is reported, not silently spread (no silent caps).
    Scale: masses are one map-side-combined count; the sort/window
    runs over the SOURCE dimension (tiny); allocation is a broadcast
    of one scalar. One row per source."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    wo = Window.orderBy("m", "source")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = tc.select(
        "source",
        "m",
        F.row_number().over(wo).alias("i"),
        F.sum("m")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("p"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("m").over(wall).cast("long").alias("tot"),
    )
    bb = rk.agg(
        F.expr("CAST(MAX(tot) div 2 AS BIGINT)").alias("b"),
        F.max("n").alias("nn"),
        F.max("m").alias("mmax"),
    )
    seg = (
        rk.crossJoin(F.broadcast(bb))
        .where(
            (F.col("p") - F.col("m"))
            + F.col("m") * (F.col("nn") - F.col("i") + 1)
            > F.col("b")
        )
        .agg(F.min("i").alias("i0"))
    )
    pref = rk.select(F.col("i").alias("ip"), F.col("p").alias("pp"))
    lvl = (
        bb.crossJoin(F.broadcast(seg))
        .join(
            F.broadcast(pref),
            F.col("ip") == F.col("i0") - 1,
            "left",
        )
        .selectExpr(
            "CASE WHEN i0 IS NULL THEN mmax"
            " ELSE (b - COALESCE(pp, 0)) div (nn - i0 + 1) END AS lev",
            "b",
        )
    )
    out = rk.crossJoin(F.broadcast(lvl))
    tot_alloc = out.agg(
        F.sum(F.least(F.col("m"), F.col("lev"))).cast("long").alias("ta")
    )
    return (
        out.crossJoin(F.broadcast(tot_alloc))
        .selectExpr(
            "source",
            "m AS tokens",
            "LEAST(m, lev) AS allocated",
            "CAST(CASE WHEN m > lev THEN 1 ELSE 0 END AS BIGINT)"
            " AS capped",
            "CAST(lev AS BIGINT) AS water_level",
            "CAST(b - ta AS BIGINT) AS budget_remainder",
        )
        .orderBy("source")
    )


def _scorecard_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE tc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source, tok),
    tu AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM tc GROUP BY source),
    dv AS (
      SELECT DISTINCT v FROM (
        SELECT c AS v FROM tc UNION ALL SELECT t FROM tu)),
    {_fp_log2_cte('s', 'dv')},
    su AS (
      SELECT tc.source, CAST(SUM(tc.c * slg.lg) AS BIGINT) AS s
      FROM tc JOIN slg ON slg.v = tc.c GROUP BY tc.source),
    ent AS (
      SELECT tu.source, tu.t, tu.vocab,
             CAST(lt.lg - su.s // tu.t AS BIGINT) AS entropy_ticks
      FROM tu JOIN su ON su.source = tu.source
              JOIN slg lt ON lt.v = tu.t),
    nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    fp AS (
      SELECT doc_id, source,
             md5(array_to_string(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')[1:16], ' ')) AS f
      FROM documents),
    fg AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS cf FROM fp GROUP BY f),
    dup AS (
      SELECT fp.source,
             CAST(SUM(CASE WHEN fg.cf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM fp JOIN fg ON fg.f = fp.f GROUP BY fp.source),
    lg2 AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cl
      FROM documents GROUP BY source, lang),
    pur AS (
      SELECT source, CAST(MAX(cl) AS BIGINT) AS maj
      FROM lg2 GROUP BY source)
    SELECT nd.source, nd.n_docs, ent.t AS n_tokens, ent.vocab,
           ent.entropy_ticks,
           CAST((2 * 1000 * ent.t + nd.n_docs) // (2 * nd.n_docs)
                AS BIGINT) AS mean_len_milli,
           CAST((2 * 1000000 * dup.n_dup + nd.n_docs) // (2 * nd.n_docs)
                AS BIGINT) AS dup16_ppm,
           CAST((2 * 1000000 * pur.maj + nd.n_docs) // (2 * nd.n_docs)
                AS BIGINT) AS lang_purity_ppm
    FROM nd JOIN ent ON ent.source = nd.source
            JOIN dup ON dup.source = nd.source
            JOIN pur ON pur.source = nd.source
    ORDER BY nd.source
    """


@query("source_quality_scorecard", _scorecard_oracle_sql())
def source_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source data-quality SCORECARD — one table a curation
    review actually reads, composing the engine's established exact
    signals: document and token mass, vocabulary size, token-entropy
    ticks (diversity), mean document length (half-up milli tokens),
    16-token-prefix duplication exposure (share of docs whose opening
    is not unique — the cross_source_duplication key, within-corpus),
    and language purity (majority-language share). Every column is the
    same integer design proven by its standalone operator, joined on
    the source dimension. Scale: three scans of documents (token
    stats, prefix fingerprints, lang counts), each map-side combined;
    all joins are on the tiny source key. One row per source."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import fp_log2_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lgc = tc.selectExpr(
        "source", "c", fp_log2_sql("c", "1") + " AS lgc"
    )
    ent = (
        lgc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("t"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.col("c") * F.col("lgc")).cast("long").alias("s"),
        )
        .selectExpr(
            "source",
            "t",
            "vocab",
            f"CAST(({fp_log2_sql('t', '1')}) - s div t AS BIGINT)"
            " AS entropy_ticks",
        )
    )
    nd = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    fp = docs.selectExpr(
        "source", f"md5(concat_ws(' ', slice({toks}, 1, 16))) AS f"
    )
    fg = fp.groupBy("f").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    dup = (
        fp.join(fg, "f")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("cf") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup")
        )
    )
    pur = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cl"))
        .groupBy("source")
        .agg(F.max("cl").cast("long").alias("maj"))
    )
    return (
        nd.join(ent, "source")
        .join(dup, "source")
        .join(pur, "source")
        .selectExpr(
            "source",
            "n_docs",
            "t AS n_tokens",
            "vocab",
            "entropy_ticks",
            "CAST((2 * 1000 * t + n_docs) div (2 * n_docs) AS BIGINT)"
            " AS mean_len_milli",
            "CAST((2 * 1000000 * n_dup + n_docs) div (2 * n_docs)"
            " AS BIGINT) AS dup16_ppm",
            "CAST((2 * 1000000 * maj + n_docs) div (2 * n_docs)"
            " AS BIGINT) AS lang_purity_ppm",
        )
        .orderBy("source")
    )


@query(
    "embedding_dim_variance",
    """
    WITH px AS (
      SELECT tp.i - 1 AS dim,
             CAST(floor(tp.x * 1e10 + 0.5) AS HUGEINT) AS t
      FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings) v,
           LATERAL (SELECT unnest(e) AS x,
                           generate_subscripts(e, 1) AS i) tp),
    ag AS (
      SELECT dim, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(t) AS HUGEINT) AS sx,
             CAST(SUM(t * t) AS HUGEINT) AS sxx
      FROM px GROUP BY dim)
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(CASE WHEN sx >= 0 THEN
                  (2 * 1000 * sx + n * 10000000000)
                    // (2 * n * 10000000000)
                ELSE -((2 * 1000 * (-sx) + n * 10000000000)
                    // (2 * n * 10000000000)) END AS BIGINT)
             AS mean_milli,
           CAST((2 * 1000000 * (n * sxx - sx * sx)
                 + n * n * 100000000000000000000)
                // (2 * n * n * 100000000000000000000) AS BIGINT)
             AS var_micro
    FROM ag ORDER BY dim
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding space —
    the signal-concentration readout that drives quantizer design
    (SQ8 ranges, PQ subspace splits, which dimensions a Matryoshka
    truncation can afford to drop). Embeddings enter through the
    engine-stable floor(x*1e10 + 0.5) tick quantization (the r4
    cast-tie lesson — functions/quant.py), then everything is exact
    integer moments: mean in half-up milli, population variance in
    half-up micro via (n*Sxx - Sx^2)/(n^2 * 1e20) with HUGEINT /
    DECIMAL(38,0) headroom (documented bound: |x| <= ~1.3 at 4k
    vectors; re-scale ticks before 10^6-vector corpora). Scale: one
    posexplode pass, map-side-combined per-dimension moments, output
    is dimension-bounded (64 rows)."""
    dec = "decimal(38,0)"
    emb = load_tables(spark, sf_dir)["embeddings"]
    px = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    ).select(
        "dim",
        F.floor(F.col("x") * F.lit(1e10) + F.lit(0.5))
        .cast(dec)
        .alias("t"),
    )
    ag = px.groupBy("dim").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("t").cast(dec).alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast(dec).alias("sxx"),
    )
    return ag.selectExpr(
        "CAST(dim AS BIGINT) AS dim",
        "CAST(CASE WHEN sx >= 0 THEN"
        "  (2 * 1000 * sx + n * 10000000000)"
        "    div (2 * n * 10000000000)"
        " ELSE -((2 * 1000 * (-sx) + n * 10000000000)"
        "    div (2 * n * 10000000000)) END AS BIGINT) AS mean_milli",
        "CAST((2 * 1000000 * (n * sxx - sx * sx)"
        " + n * n * CAST(100000000000000000000 AS DECIMAL(38,0)))"
        " div (2 * n * n * CAST(100000000000000000000 AS DECIMAL(38,0)))"
        " AS BIGINT) AS var_micro",
    ).orderBy("dim")


@query(
    "readability_by_source",
    f"""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                  x -> trim(x) <> '')) AS BIGINT) AS sents,
             CAST(len(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')) AS BIGINT) AS words,
             CAST(len(regexp_split_to_array(lower(text), '[aeiou]+'))
                  - 1 AS BIGINT) AS vgroups
      FROM documents),
    a AS (
      SELECT source, CAST(SUM(sents) AS HUGEINT) AS s,
             CAST(SUM(words) AS HUGEINT) AS w,
             CAST(SUM(vgroups) AS HUGEINT) AS y
      FROM d GROUP BY source)
    SELECT source,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(w AS BIGINT) AS n_words,
           CAST(y AS BIGINT) AS n_vowel_groups,
           CAST((2 * 1000 * w + s) // (2 * s) AS BIGINT)
             AS words_per_sentence_milli,
           CAST(206835 - (2 * 1015 * w + s) // (2 * s)
                       - (2 * 84600 * y + w) // (2 * w) AS BIGINT)
             AS flesch_milli
    FROM a WHERE s > 0 AND w > 0 ORDER BY source
    """,
)
def readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source, fully integer: sentences =
    non-empty '[.!?]+' segments, words = normalized tokens, syllable
    PROXY = vowel groups ('[aeiou]+' runs — the standard library-free
    stand-in; both engines' regex splits verified semantics-identical
    including edge empties), and the score 206.835 - 1.015*(W/S) -
    84.6*(Y/W) evaluated as two half-up milli rationals subtracted
    from the milli constant — reproducible to the last digit, unlike
    any float readability implementation. The curation use: very high
    ease = listicle/spam-like, very low = OCR garbage or code — both
    ends get a review queue. Scale: one scan, three regexp counters
    per doc, map-side-combined per-source sums. One row per source.
    """
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    dec = "decimal(38,0)"
    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    d = docs.selectExpr(
        "source",
        "CAST(size(filter(split(text, '[.!?]+'), x -> trim(x) <> ''))"
        " AS BIGINT) AS sents",
        f"CAST(size({toks}) AS BIGINT) AS words",
        "CAST(size(split(lower(text), '[aeiou]+')) - 1 AS BIGINT)"
        " AS vgroups",
    )
    a = d.groupBy("source").agg(
        F.sum("sents").cast(dec).alias("s"),
        F.sum("words").cast(dec).alias("w"),
        F.sum("vgroups").cast(dec).alias("y"),
    )
    return (
        a.where((F.col("s") > 0) & (F.col("w") > 0))
        .selectExpr(
            "source",
            "CAST(s AS BIGINT) AS n_sentences",
            "CAST(w AS BIGINT) AS n_words",
            "CAST(y AS BIGINT) AS n_vowel_groups",
            "CAST((2 * 1000 * w + s) div (2 * s) AS BIGINT)"
            " AS words_per_sentence_milli",
            "CAST(206835 - (2 * 1015 * w + s) div (2 * s)"
            " - (2 * 84600 * y + w) div (2 * w) AS BIGINT)"
            " AS flesch_milli",
        )
        .orderBy("source")
    )


@query(
    "dedup_sensitivity_curve",
    f"""
    WITH f AS (
      SELECT md5(text) AS raw,
             md5(lower(text)) AS lowered,
             md5({_NORM_SQL_DUCK}) AS normalized,
             md5(array_to_string(list_filter(
               regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
               x -> x <> '')[1:16], ' ')) AS prefix16
      FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM f),
    lv AS (
      SELECT 'a_raw' AS level, raw AS h FROM f
      UNION ALL SELECT 'b_lowered', lowered FROM f
      UNION ALL SELECT 'c_normalized', normalized FROM f
      UNION ALL SELECT 'd_prefix16', prefix16 FROM f),
    g AS (
      SELECT level, h, CAST(COUNT(*) AS BIGINT) AS c
      FROM lv GROUP BY level, h),
    agg AS (
      SELECT level,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c - 1) AS BIGINT) AS n_removed
      FROM g GROUP BY level)
    SELECT agg.level, n.nd AS n_docs, agg.n_distinct, agg.n_removed,
           CAST((2 * 1000000 * agg.n_removed + n.nd) // (2 * n.nd)
                AS BIGINT) AS removal_ppm
    FROM agg CROSS JOIN n ORDER BY agg.level
    """,
)
def dedup_sensitivity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup sensitivity to key aggressiveness — the diagnostic a
    curation review runs BEFORE choosing the dedup key: the same
    corpus fingerprinted at four normalization levels (raw bytes,
    lowercased, fully normalized, 16-token prefix) and the exact
    removal rate at each (min-keeper convention: removed = count-1
    per group). A steep raw->normalized jump means near-identical
    formatting variants dominate; a steep normalized->prefix16 jump
    means shared boilerplate openings. Scale: ONE scan computes all
    four fingerprints; each level is a map-side-combined count over
    16-byte keys; output is 4 rows."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    f = docs.selectExpr(
        "md5(text) AS a_raw",
        "md5(lower(text)) AS b_lowered",
        f"md5({normalize_sql('text')}) AS c_normalized",
        f"md5(concat_ws(' ', slice({toks}, 1, 16))) AS d_prefix16",
    )
    n = f.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    lv = None
    for col in ("a_raw", "b_lowered", "c_normalized", "d_prefix16"):
        part = f.select(
            F.lit(col).alias("level"), F.col(col).alias("h")
        )
        lv = part if lv is None else lv.unionAll(part)
    g = lv.groupBy("level", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = g.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") - 1).cast("long").alias("n_removed"),
    )
    return (
        agg.crossJoin(F.broadcast(n))
        .selectExpr(
            "level",
            "nd AS n_docs",
            "n_distinct",
            "n_removed",
            "CAST((2 * 1000000 * n_removed + nd) div (2 * nd)"
            " AS BIGINT) AS removal_ppm",
        )
        .orderBy("level")
    )


def _bigram_acc_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    split = (
        hash60_sql("'lmsplit:' || CAST(doc_id AS VARCHAR)") + " % 5 = 0"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {split} AS is_test, tp.i AS pos, tp.t AS tok
      FROM (SELECT doc_id, list_filter(
              regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
              x -> x <> '') AS arr
            FROM documents) d,
           LATERAL (SELECT unnest(arr) AS t,
                           generate_subscripts(arr, 1) AS i) tp),
    bg AS (
      SELECT doc_id, is_test, tok AS t1,
             LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      FROM tok),
    trn AS (
      SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg WHERE NOT is_test AND t2 IS NOT NULL GROUP BY t1, t2),
    model AS (
      SELECT t1, t2 AS pred FROM (
        SELECT t1, t2, ROW_NUMBER() OVER (
          PARTITION BY t1 ORDER BY c DESC, t2) AS rn
        FROM trn) WHERE rn = 1),
    tst AS (
      SELECT t1, t2 FROM bg WHERE is_test AND t2 IS NOT NULL),
    j AS (
      SELECT tst.t1, tst.t2, model.pred
      FROM tst LEFT JOIN model ON model.t1 = tst.t1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered,
             CAST(SUM(CASE WHEN pred = t2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
      FROM j)
    SELECT n_test, n_covered, n_correct,
           CAST((2 * 1000000 * n_covered + n_test) // (2 * n_test)
                AS BIGINT) AS coverage_ppm,
           CAST((2 * 1000000 * n_correct + n_covered) // (2 * n_covered)
                AS BIGINT) AS accuracy_ppm
    FROM agg
    """


@query("bigram_next_token_accuracy", _bigram_acc_oracle_sql())
def bigram_next_token_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bigram language-model BACKTEST — the eval companion of
    lm_surprisal_by_source: train argmax next-token prediction
    (bigram counts, ties to the lexicographically smallest
    continuation) on a hash holdout's training side, measure top-1
    next-token accuracy and context coverage on the held-out docs —
    the go/no-go number for using the cheap n-gram LM as a quality
    filter. Exact integer counts, deterministic argmax, half-up ppm.
    Scale: bigrams from ONE doc-partitioned window pass; the model is
    a (context -> argmax) table built by map-side-combined counts +
    a context-partitioned window; scoring is one context-keyed hash
    join (the model is vocabulary-sized — joined, not broadcast, by
    design). One row."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tok = docs.selectExpr(
        "doc_id", f"posexplode({toks}) AS (pos, tok)"
    ).withColumn(
        "is_test",
        hash60(F.concat(F.lit("lmsplit:"), F.col("doc_id").cast("string")))
        % 5
        == 0,
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "is_test",
        F.col("tok").alias("t1"),
        F.lead("tok").over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    trn = (
        bg.where(~F.col("is_test"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    model = (
        trn.select(
            "t1",
            "t2",
            F.row_number()
            .over(
                Window.partitionBy("t1").orderBy(F.col("c").desc(), "t2")
            )
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select("t1", F.col("t2").alias("pred"))
    )
    tst = bg.where(F.col("is_test")).select("t1", "t2")
    j = tst.join(model, "t1", "left")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("pred").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        F.sum(F.when(F.col("pred") == F.col("t2"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    return agg.selectExpr(
        "n_test",
        "n_covered",
        "n_correct",
        "CAST((2 * 1000000 * n_covered + n_test) div (2 * n_test)"
        " AS BIGINT) AS coverage_ppm",
        "CAST((2 * 1000000 * n_correct + n_covered) div (2 * n_covered)"
        " AS BIGINT) AS accuracy_ppm",
    )


@query(
    "connector_pipeline_e2e",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    WHERE event_type IN ('click', 'purchase') AND user_id % 10 >= 5
    GROUP BY event_type ORDER BY event_type
    """,
)
def connector_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector INTEGRATION anchor — the reference's features composed
    in one flow the way a production job uses them together, not one
    per test: rows encoded with a DYNAMIC TAG (event_type) and a
    DYNAMIC PROPERTY column (bucket = user_id % 10; R4+R5), written
    through the multi-queue sink (S7), read back with the broker-side
    tag filter 'click || purchase' (P1), the property surfaced as a
    header field (P3/D5), an SQL92-semantics property predicate
    bucket >= 5 applied (P2 — numeric compare of the property string,
    Catalyst-evaluated with the same visible result as broker-side),
    and re-aggregated. The oracle sees only the original events table,
    so a hash match proves the ENTIRE encode->route->filter->decode
    chain is lossless and filter-exact. Scale: same one-Arrow-hop
    codec paths as the standalone anchors."""
    import tempfile

    from rocketmq_flink_spark.functions.codec import (
        decode_envelope,
        encode_rows,
    )
    from rocketmq_flink_spark.sources.datasource import register

    register(spark)
    root = tempfile.mkdtemp(prefix="broker_pipe_")
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id",
        "event_type",
        (F.col("user_id") % 10).cast("string").alias("bucket"),
    )
    env = encode_rows(
        ev,
        options={
            "keyColumns": "event_id",
            "writeKeysToBody": "true",
            "isDynamicTag": "true",
            "dynamicTagColumn": "event_type",
            "dynamicTagColumnWriteIncluded": "true",
            "isDynamicProperty": "true",
            "dynamicPropertyColumns": "bucket",
        },
    )
    env.write.format("rocketmq").options(
        path=root, topic="pipe", numQueues=4
    ).mode("append").save()
    raw = (
        spark.read.format("rocketmq")
        .options(path=root, topic="pipe", tag="click || purchase")
        .load()
    )
    decoded = decode_envelope(
        raw,
        "event_id BIGINT, event_type STRING, bucket STRING",
        options={"headerFields": "bucket"},
    )
    return (
        decoded.where(F.col("bucket").cast("int") >= 5)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_id"),
        )
        .orderBy("event_type")
    )


def _contig_id_oracle_sql(buckets: int = 32) -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("'gid:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH r AS (
      SELECT doc_id, {h} AS hh, ({h}) % {buckets} AS bkt
      FROM documents),
    g AS (
      SELECT doc_id, bkt,
             ROW_NUMBER() OVER (ORDER BY bkt, hh, doc_id) - 1 AS gid
      FROM r)
    SELECT CAST(bkt AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(gid) AS BIGINT) AS min_gid,
           CAST(MAX(gid) AS BIGINT) AS max_gid,
           CAST(SUM(gid) AS BIGINT) AS sum_gid
    FROM g GROUP BY bkt ORDER BY bucket
    """


@query("contiguous_id_assignment", _contig_id_oracle_sql())
def contiguous_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed contiguous ID assignment — the two-phase pattern
    every training pipeline needs for dense row numbering WITHOUT a
    single-partition global window: rows hash into 32 buckets, phase
    one counts each bucket (map-side combine) and broadcasts the
    exclusive prefix offsets, phase two row_numbers WITHIN each bucket
    (hash-distributed windows) and adds the offset — globally unique,
    contiguous 0..n-1, and a pure function of the data (total order =
    (bucket, hash, doc_id)). The oracle recomputes the same order with
    one flat ROW_NUMBER; the per-bucket (min, max, count, sum) census
    certifies both contiguity (max-min+1 = count) and exact id values.
    Scale: this is THE replacement for zipWithIndex/monotonically_
    increasing_id when determinism and density both matter; only
    bucket COUNTS cross the driver-free broadcast, never rows."""
    from rocketmq_flink_spark.functions.porthash import hash60

    B = 32
    docs = load_tables(spark, sf_dir)["documents"]
    r = docs.select(
        "doc_id",
        hash60(
            F.concat(F.lit("gid:"), F.col("doc_id").cast("string"))
        ).alias("hh"),
    ).withColumn("bkt", F.col("hh") % B)
    cnt = r.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    off = cnt.select(
        "bkt",
        (
            F.coalesce(
                F.sum("c").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("off"),
    )
    wb = Window.partitionBy("bkt").orderBy("hh", "doc_id")
    g = (
        r.join(F.broadcast(off), "bkt")
        .select(
            "bkt",
            (F.row_number().over(wb) - 1 + F.col("off")).alias("gid"),
        )
    )
    return (
        g.groupBy(F.col("bkt").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("gid").cast("long").alias("min_gid"),
            F.max("gid").cast("long").alias("max_gid"),
            F.sum("gid").cast("long").alias("sum_gid"),
        )
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "n_docs",
            "min_gid",
            "max_gid",
            "sum_gid",
        )
        .orderBy("bucket")
    )


def _facility_oracle_sql(k: int = 4, pool: int = 12) -> str:
    """DuckDB replay of greedy facility-location selection: staged
    MATERIALIZED CTEs carry the running best-similarity column; exact
    decimal dot products clamped at 0; ROUND(.,12)+id argmax."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("'fl:' || CAST(vec_id AS VARCHAR)")
    dot = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> p[1]*p[2]))"
    )
    z = "CAST(0 AS DECIMAL(30,20))"
    parts = [f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT)
                 * CAST(0.0000000001 AS DECIMAL(11,10))
                 AS DECIMAL(12,10))) AS v
      FROM embeddings),
    pool AS MATERIALIZED (
      SELECT vec_id AS cand, v AS cv FROM c
      ORDER BY {h}, vec_id LIMIT {pool}),
    b0 AS MATERIALIZED (
      SELECT vec_id AS vid, v, {z} AS best FROM c)"""]
    prev_sel: list[str] = []
    for t in range(1, k + 1):
        p = t - 1
        notin = (
            "WHERE p.cand NOT IN ("
            + " UNION ALL ".join(
                f"SELECT cand FROM s{i}" for i in range(1, t)
            )
            + ")"
            if prev_sel
            else ""
        )
        parts.append(f"""
    g{t} AS (
      SELECT p.cand,
             SUM(GREATEST({z},
                 CAST({dot.format(a='b.v', b='p.cv')} AS DECIMAL(30,20))
                 - b.best)) AS gain
      FROM b{p} b CROSS JOIN (SELECT * FROM pool p {notin}) p
      GROUP BY p.cand),
    s{t} AS MATERIALIZED (
      SELECT cand, gain FROM g{t}
      ORDER BY ROUND(gain, 12) DESC, cand LIMIT 1)""")
        prev_sel.append(f"s{t}")
        if t < k:
            parts.append(f"""
    b{t} AS MATERIALIZED (
      SELECT b.vid, b.v,
             GREATEST(b.best,
               CAST({dot.format(a='b.v', b='pv.cv')} AS DECIMAL(30,20)))
               AS best
      FROM b{p} b, (SELECT p.cv FROM pool p JOIN s{t} ON s{t}.cand = p.cand) pv)""")
    unions = "\n      UNION ALL ".join(
        f"SELECT {t} AS rank, cand AS vec_id,"
        f" CAST(ROUND(gain, 12) AS DOUBLE) AS coverage_gain FROM s{t}"
        for t in range(1, k + 1)
    )
    return ",".join(parts) + f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, coverage_gain
    FROM ({unions}) ORDER BY rank
    """


@query("facility_location_select", _facility_oracle_sql(k=4, pool=12))
def facility_location_select_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy facility-location (submodular coverage) selection of 4
    exemplar vectors from a 12-candidate hash panel — the coreset
    objective that optimizes REPRESENTATION (every corpus point close
    to some exemplar; 1-1/e greedy guarantee), completing the
    selection trio next to kcenter (outlier coverage) and MMR
    (query diversity). See operators/similarity.py
    facility_location_select for the exact-decimal design; the oracle
    replays every greedy step in staged CTEs. Scale: corpus x
    pool-remainder join per step, pool-sized argmax, running
    best-similarity column."""
    from rocketmq_flink_spark.operators.similarity import (
        facility_location_select,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    return facility_location_select(emb, k=4, pool=12).orderBy("rank")


@query(
    "simpson_diversity_by_source",
    f"""
    WITH tc AS (
      SELECT source, tok, CAST(COUNT(*) AS HUGEINT) AS c
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source, tok),
    ag AS (
      SELECT source, CAST(SUM(c) AS HUGEINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(c * c) AS HUGEINT) AS s2
      FROM tc GROUP BY source)
    SELECT source, CAST(t AS BIGINT) AS n_tokens, vocab,
           CAST(1000000 - (2 * 1000000 * s2 + t * t) // (2 * t * t)
                AS BIGINT) AS simpson_ppm,
           CAST((2 * 1000 * t * t + s2) // (2 * s2) AS BIGINT)
             AS effective_vocab_milli
    FROM ag ORDER BY source
    """,
)
def simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson diversity per source — the quadratic companion to
    token_entropy_by_source: D = 1 - sum p_i^2 (probability two random
    tokens differ) and the INVERSE Simpson 1/sum p_i^2 = effective
    vocabulary size (how many equally-common types the source behaves
    like). Both are exact rationals of the same sufficient statistics
    the AMS F2 sketch estimates (sum c^2), reported in half-up
    ppm/milli — so this is also the per-source EXACT ground truth for
    the F2 family. Scale: one map-side-combined (source, token) count
    and a per-source reduce; no log fold needed at all (the quadratic
    index is cheaper than entropy). One row per source."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    dec = "decimal(38,0)"
    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    tc = (
        docs.selectExpr("source", f"explode({toks}) AS tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
    )
    ag = tc.groupBy("source").agg(
        F.sum("c").cast(dec).alias("t"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c") * F.col("c")).cast(dec).alias("s2"),
    )
    return ag.selectExpr(
        "source",
        "CAST(t AS BIGINT) AS n_tokens",
        "vocab",
        "CAST(1000000 - (2 * 1000000 * s2 + t * t) div (2 * t * t)"
        " AS BIGINT) AS simpson_ppm",
        "CAST((2 * 1000 * t * t + s2) div (2 * s2) AS BIGINT)"
        " AS effective_vocab_milli",
    ).orderBy("source")


def _mcnemar_oracle_sql(buckets: int = 8192) -> str:
    """McNemar final over the shared NB pipeline (hash split, same as
    the AUC anchor): paired disagreement counts vs the majority-class
    baseline, exact continuity-corrected chi-square decision."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    split = (
        hash60_sql("'nbsplit:' || CAST(doc_id AS VARCHAR)") + " % 5 = 0"
    )
    return _nb_pipeline_duck(buckets, split_sql=split) + """,
    pred AS (
      SELECT doc_id, source, c AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY score DESC, c) AS rn
        FROM scored) WHERE rn = 1),
    mj AS (
      SELECT c AS mclass FROM ndc
      ORDER BY ndc DESC, c LIMIT 1),
    paired AS (
      SELECT (predicted = source) AS nb_ok,
             (source = (SELECT mclass FROM mj)) AS base_ok
      FROM pred),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN nb_ok AND NOT base_ok THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN base_ok AND NOT nb_ok THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM paired)
    SELECT n_test, b AS nb_only_correct, c AS baseline_only_correct,
           CAST(CASE WHEN b + c = 0 THEN 0
                WHEN 1000000 * (ABS(b - c) - 1) * (ABS(b - c) - 1)
                     > 3841459 * (b + c)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM ag
    """


@query("mcnemar_nb_vs_majority", _mcnemar_oracle_sql())
def mcnemar_nb_vs_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: is the NB classifier SIGNIFICANTLY
    better than the majority-class baseline on the same held-out
    documents? The paired-nominal test every model-comparison writeup
    needs (two accuracies alone can't say if the difference is noise
    — only the DISAGREEMENT cells b/c can). Exact integers end to
    end: b = docs only NB gets right, c = docs only the baseline gets
    right, continuity-corrected decision
    1e6*(|b-c|-1)^2 > 3841459*(b+c)  (chi-square_1 0.95 critical
    value in micro) — zero floats, the reject bit itself
    hash-certifies. Same hash holdout as nb_auc_eval. Scale: the NB
    broadcast pipeline + one paired reduce. One row."""
    from rocketmq_flink_spark.functions.porthash import hash60

    split = (
        hash60(F.concat(F.lit("nbsplit:"), F.col("doc_id").cast("string")))
        % 5
        == 0
    )
    pred, truth, _ = _nb_frames(spark, sf_dir, scores=False, split=split)
    # majority TRAINING class: argmax doc count, tie to smallest label;
    # rebuilt from the same split (train side = NOT is_test)
    docs = load_tables(spark, sf_dir)["documents"]
    trn_docs = docs.where(~split.alias("t")).select("doc_id", "source")
    mj = (
        trn_docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("ndc"))
        .orderBy(F.desc("ndc"), "source")
        .limit(1)
        .select(F.col("source").alias("mclass"))
    )
    paired = (
        pred.join(truth, "doc")
        .crossJoin(F.broadcast(mj))
        .select(
            (F.col("predicted") == F.col("source")).alias("nb_ok"),
            (F.col("source") == F.col("mclass")).alias("base_ok"),
        )
    )
    ag = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when(F.col("nb_ok") & ~F.col("base_ok"), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(F.col("base_ok") & ~F.col("nb_ok"), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
    )
    return ag.selectExpr(
        "n_test",
        "b AS nb_only_correct",
        "c AS baseline_only_correct",
        "CAST(CASE WHEN b + c = 0 THEN 0"
        " WHEN 1000000 * (ABS(b - c) - 1) * (ABS(b - c) - 1)"
        "      > 3841459 * (b + c)"
        " THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct",
    )


def _post_dedup_mixture_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.intmath import isqrt_sql

    return f"""
    WITH fp AS (
      SELECT doc_id, source, md5({_NORM_SQL_DUCK}) AS f
      FROM documents),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
    tr AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM (SELECT source,
                   unnest(list_filter(
                     regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents)
      GROUP BY source),
    tk AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM (SELECT d.source,
                   unnest(list_filter(
                     regexp_split_to_array(
                       trim(regexp_replace(regexp_replace(lower(d.text),
                         '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'),
                         '\\s+', ' ', 'g')), '\\s+'),
                     x -> x <> '')) AS tok
            FROM documents d JOIN keep USING (doc_id))
      GROUP BY source),
    rr AS (SELECT source, n_tok AS raw_tok, {isqrt_sql('n_tok')} AS r
           FROM tr),
    rk AS (SELECT source, n_tok AS kept_tok, {isqrt_sql('n_tok')} AS r
           FROM tk),
    tot AS (
      SELECT (SELECT CAST(SUM(r) AS BIGINT) FROM rr) AS sr,
             (SELECT CAST(SUM(r) AS BIGINT) FROM rk) AS sk)
    SELECT rr.source, rr.raw_tok, rk.kept_tok,
           CAST((2 * 1000000 * rr.r + tot.sr) // (2 * tot.sr) AS BIGINT)
             AS raw_w_ppm,
           CAST((2 * 1000000 * rk.r + tot.sk) // (2 * tot.sk) AS BIGINT)
             AS dedup_w_ppm,
           CAST((2 * 1000000 * rk.r + tot.sk) // (2 * tot.sk)
                - (2 * 1000000 * rr.r + tot.sr) // (2 * tot.sr)
                AS BIGINT) AS shift_ppm
    FROM rr JOIN rk ON rk.source = rr.source CROSS JOIN tot
    ORDER BY rr.source
    """


@query("post_dedup_mixture_weights", _post_dedup_mixture_oracle_sql())
def post_dedup_mixture_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Operator COMPOSITION anchor: temperature mixture weights
    (alpha = 1/2, exact isqrt — temperature_mixture_weights' design)
    computed BEFORE and AFTER exact dedup (min-id keeper on the
    normalized-text fingerprint — dedup_exact_docs' design), with the
    per-source weight shift. This is the order-of-operations lesson
    every curation pipeline learns: duplication is never uniform
    across sources, so weights fitted pre-dedup are wrong post-dedup;
    the shift column quantifies by how much. All integer (half-up
    ppm; signed shift is a difference of two half-up terms — exact in
    both engines). Scale: one fingerprint group-by + a semi-join for
    the kept corpus, two map-side-combined token counts, source-sized
    normalization."""
    from rocketmq_flink_spark.functions.intmath import isqrt_sql
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        f"filter(split({normalize_sql('text')}, '\\\\s+'), x -> x <> '')"
    )
    fp = docs.selectExpr(
        "doc_id", "source", f"md5({normalize_sql('text')}) AS f"
    )
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    kept = docs.join(keep, "doc_id")

    def masses(df):
        return (
            df.selectExpr("source", f"explode({toks}) AS tok")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
            .selectExpr("source", "n_tok", isqrt_sql("n_tok") + " AS r")
        )

    rr = masses(docs).selectExpr(
        "source", "n_tok AS raw_tok", "r AS r_raw"
    )
    rk = masses(kept).selectExpr(
        "source", "n_tok AS kept_tok", "r AS r_kept"
    )
    sr = rr.agg(F.sum("r_raw").cast("long").alias("sr"))
    sk = rk.agg(F.sum("r_kept").cast("long").alias("sk"))
    return (
        rr.join(rk, "source")
        .crossJoin(F.broadcast(sr))
        .crossJoin(F.broadcast(sk))
        .selectExpr(
            "source",
            "raw_tok",
            "kept_tok",
            "CAST((2 * 1000000 * r_raw + sr) div (2 * sr) AS BIGINT)"
            " AS raw_w_ppm",
            "CAST((2 * 1000000 * r_kept + sk) div (2 * sk) AS BIGINT)"
            " AS dedup_w_ppm",
            "CAST((2 * 1000000 * r_kept + sk) div (2 * sk)"
            " - (2 * 1000000 * r_raw + sr) div (2 * sr) AS BIGINT)"
            " AS shift_ppm",
        )
        .orderBy("source")
    )


@query(
    "jaccard_threshold_sensitivity",
    f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jp AS (
      SELECT n_inter, sa.n_sh + sb.n_sh - n_inter AS un
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b),
    th AS (SELECT unnest([50, 60, 70, 80, 90]) AS t)
    SELECT CAST(th.t AS BIGINT) AS threshold_pct,
           CAST(COALESCE(SUM(CASE WHEN 100 * jp.n_inter >= th.t * jp.un
                                  THEN 1 END), 0) AS BIGINT)
             AS n_pairs
    FROM th LEFT JOIN jp ON TRUE
    GROUP BY th.t ORDER BY threshold_pct
    """,
)
def jaccard_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup threshold sensitivity: exact near-dup PAIR counts at
    Jaccard thresholds 50/60/70/80/90% from ONE shingle-join pass —
    the elbow curve a curation review reads before fixing the dedup
    threshold (lsh_tuning_report bins by similarity to tune the
    INDEX; this prices the THRESHOLD itself: each step down the curve
    is documents you are about to delete). The threshold test is the
    exact integer cross-multiplication 100*inter >= t*union — no
    division, no floats. Scale: this anchor joins the RAW shingle
    sets (exact ground truth at fixture scale — the same shape as the
    prefix_filter oracle); a 100 TB run should front it with the
    prefix-filter or doc-freq-cap blocking the dedup family already
    provides (all listed thresholds >= 0.5, so t=0.5 prefix filtering
    is lossless for this exact curve). The 5-way threshold fan-out
    touches only the PAIR table. One row per threshold."""
    from rocketmq_flink_spark.operators.dedup import exploded_shingles

    docs = load_tables(spark, sf_dir)["documents"]
    # sh feeds three subtrees (sizes + both self-join sides): one cut
    # stops the shingle explode running 3x per action (optimization r08)
    sh = _cut_big(exploded_shingles(docs, "doc_id", "text", k=5))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("id_a"), "sh")
    b = sh.select(F.col("doc").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jp = (
        inter.join(
            sizes.withColumnRenamed("doc", "id_a").withColumnRenamed(
                "n_sh", "na"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "id_b").withColumnRenamed(
                "n_sh", "nb"
            ),
            "id_b",
        )
        .selectExpr("n_inter", "na + nb - n_inter AS un")
    )
    th = docs.sparkSession.createDataFrame(
        [(50,), (60,), (70,), (80,), (90,)], "t int"
    )
    return (
        th.join(jp, F.lit(True), "left")
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        100 * F.col("n_inter") >= F.col("t") * F.col("un"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_pairs")
        )
        .selectExpr("CAST(t AS BIGINT) AS threshold_pct", "n_pairs")
        .orderBy("threshold_pct")
    )


# ---------------------------------------------------------------------------
# Continuation 4: text and retrieval operators, embedding structure,
# partition/schema audits and event-time features
# ---------------------------------------------------------------------------


@query(
    "token_burstiness_report",
    f"""
    WITH tk AS (
      SELECT doc_id,
             unnest(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tk WHERE tok <> '' GROUP BY doc_id, tok),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    st AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS total,
             CAST(SUM(tf * tf) AS HUGEINT) AS sumsq
      FROM tf GROUP BY tok)
    SELECT tok, df, total,
           CAST((CAST(1000000 AS HUGEINT)
                 * (n.n_docs * st.sumsq
                    - CAST(st.total AS HUGEINT) * st.total))
                // (CAST(n.n_docs AS HUGEINT) * st.total)
                AS BIGINT) AS vmr_ppm
    FROM st CROSS JOIN n
    WHERE st.df >= 5
    ORDER BY vmr_ppm DESC, tok LIMIT 20
    """,
)
def token_burstiness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (variance-to-mean ratio of per-document counts,
    zeros included): bursty tokens concentrate in few documents (topic
    words, boilerplate markers), Poisson-like tokens spread evenly
    (function words) — the corpus statistic behind stopword induction
    and boilerplate detection, and the dispersion counterpart of
    tf-idf's df. VMR = Var/mean = (N*S - T^2)/(N*T) over per-doc
    counts (T = total occurrences, S = sum of squared per-doc counts,
    N = docs with any token), reported as exact floor-div ppm with the
    products in HUGEINT/decimal width (bound N*S < 10^38 holds past
    10^12 docs). Tokens with df >= 5; top-20 by (VMR desc, token).
    Scale: one (doc, token) count then one token-keyed moment agg —
    both map-side-combinable; no row-level state."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(
                F.split(F.expr(normalize_sql("text")), r"\s+")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    tf = toks.groupBy("doc", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n = tf.select("doc").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    st = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total"),
        F.sum(F.col("tf") * F.col("tf")).cast(T.DecimalType(38, 0)).alias(
            "sumsq"
        ),
    )
    return (
        st.where(F.col("df") >= 5)
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "tok",
            "df",
            "total",
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (n_docs * sumsq - CAST(total AS DECIMAL(38,0)) * total))"
            " div (CAST(n_docs AS DECIMAL(38,0)) * total)"
            " AS BIGINT) AS vmr_ppm",
        )
        .orderBy(F.desc("vmr_ppm"), "tok")
        .limit(20)
    )


_RAKE_STOPS = (
    "'the','a','an','of','and','in','to','is','on','for','with','as',"
    "'at','by','or'"
)


@query(
    "rake_keyword_extraction",
    f"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+') AS arr
      FROM documents WHERE lang = 'en'),
    toks AS (
      SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
               i -> struct_pack(pos := i, tok := arr[i]))) AS t
      FROM d),
    tk AS (SELECT doc_id, t.pos AS pos, t.tok AS tok
           FROM toks WHERE t.tok <> ''),
    isl AS (
      SELECT doc_id, pos, tok,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM tk WHERE tok NOT IN ({_RAKE_STOPS})),
    ph AS (
      SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM isl GROUP BY 1, 2),
    phv AS (SELECT * FROM ph WHERE plen <= 4),
    w AS (SELECT unnest(regexp_split_to_array(phrase, ' ')) AS wd, plen
          FROM phv),
    wsc AS (
      SELECT wd, CAST((1000000 * CAST(SUM(plen) AS BIGINT))
                      // COUNT(*) AS BIGINT) AS wscore
      FROM w GROUP BY wd),
    dp AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
           FROM phv GROUP BY 1),
    pw AS (SELECT phrase, unnest(regexp_split_to_array(phrase, ' ')) AS wd
           FROM dp),
    psc AS (
      SELECT pw.phrase, CAST(SUM(wsc.wscore) AS BIGINT) AS score_ticks
      FROM pw JOIN wsc ON wsc.wd = pw.wd GROUP BY 1)
    SELECT dp.phrase, dp.n_occ, psc.score_ticks
    FROM dp JOIN psc USING (phrase)
    ORDER BY score_ticks DESC, phrase LIMIT 20
    """,
)
def rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.) over the English corpus:
    candidate phrases are maximal stopword-delimited token runs
    (runs longer than 4 tokens discarded); word score =
    degree/frequency where degree sums the lengths of phrases
    containing the word; phrase score sums its words' scores. All
    scores are exact floor-div ppm ticks, so the ranking is
    bit-identical across engines. Top-20 phrases by (score, phrase).
    Scale: phrase assembly is one per-document window + group-by (no
    cross-document state); word and phrase scores are two
    map-side-combinable vocabulary-bounded aggregates; the word-score
    table joins back on the word key — Zipf-skewed but
    vocabulary-sized. The stopword list is a fixed broadcast literal."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    tk = (
        docs.where(F.col("lang") == "en")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.expr(normalize_sql("text")), r"\s+")
            ).alias("pos", "tok"),
        )
        .where(F.col("tok") != "")
    )
    isl = tk.where(
        ~F.col("tok").isin(
            [s.strip("'") for s in _RAKE_STOPS.split(",")]
        )
    ).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    ph = (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(pos, tok))), x -> x.tok)"
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .where(F.col("plen") <= 4)
    )
    w = ph.select(
        F.explode(F.split(F.col("phrase"), " ")).alias("wd"), "plen"
    )
    wsc = w.groupBy("wd").agg(
        F.expr(
            "CAST((1000000 * CAST(SUM(plen) AS BIGINT))"
            " div COUNT(*) AS BIGINT)"
        ).alias("wscore")
    )
    dp = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    pw = dp.select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("wd")
    )
    psc = (
        pw.join(F.broadcast(wsc), "wd")
        .groupBy("phrase")
        .agg(F.sum("wscore").cast("long").alias("score_ticks"))
    )
    return (
        dp.join(psc, "phrase")
        .select("phrase", "n_occ", "score_ticks")
        .orderBy(F.desc("score_ticks"), "phrase")
        .limit(20)
    )


@query(
    "bitmap_segment_intersections",
    """
    WITH seg AS (
      SELECT DISTINCT event_type AS seg, user_id FROM events),
    bm AS (
      SELECT seg, user_id // 32 AS bucket,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
                  AS BIGINT) AS word
      FROM seg GROUP BY 1, 2),
    card AS (
      SELECT seg, CAST(SUM(bit_count(word)) AS BIGINT) AS n
      FROM bm GROUP BY 1),
    inter AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(SUM(bit_count(a.word & b.word)) AS BIGINT) AS n_inter
      FROM bm a JOIN bm b ON a.bucket = b.bucket AND a.seg < b.seg
      GROUP BY 1, 2)
    SELECT ca.seg AS seg_a, cb.seg AS seg_b, ca.n AS n_a, cb.n AS n_b,
           COALESCE(i.n_inter, 0) AS n_inter,
           CAST((2 * 1000000 * COALESCE(i.n_inter, 0)
                 + (ca.n + cb.n - COALESCE(i.n_inter, 0)))
                // (2 * (ca.n + cb.n - COALESCE(i.n_inter, 0))) AS BIGINT)
             AS jaccard_ppm
    FROM card ca JOIN card cb ON ca.seg < cb.seg
    LEFT JOIN inter i ON i.seg_a = ca.seg AND i.seg_b = cb.seg
    ORDER BY seg_a, seg_b
    """,
)
def bitmap_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra over user segments (users who emitted
    each event type): each segment's user set is packed into 32-bit
    words keyed by user_id div 32 — the roaring/bitmap-index trick in
    plain relational form — and every pairwise intersection cardinality
    is sum(bit_count(word_a & word_b)) over bucket-aligned words, with
    the half-up Jaccard ppm readout. Exact set algebra at 1/32nd the
    rows of an id-level join: the word tables shuffle |users|/32 rows
    per segment, the AND+popcount is whole-stage codegen, and
    bucket-alignment makes the join key dense integers (at 100 TB this
    is the difference between joining 10^9 user ids and 3*10^7
    words per segment pair). Oracle replays the identical packing."""
    ev = load_tables(spark, sf_dir)["events"]
    seg = ev.select(
        F.col("event_type").alias("seg"), "user_id"
    ).distinct()
    bm = seg.groupBy(
        "seg", F.expr("user_id div 32").alias("bucket")
    ).agg(
        F.expr(
            "CAST(bit_or(CAST(1 AS BIGINT)"
            " << CAST(user_id % 32 AS INT)) AS BIGINT)"
        ).alias("word")
    )
    card = bm.groupBy("seg").agg(
        F.expr("CAST(SUM(bit_count(word)) AS BIGINT)").alias("n")
    )
    a = bm.select(
        F.col("seg").alias("seg_a"), "bucket", F.col("word").alias("wa")
    )
    b = bm.select(
        F.col("seg").alias("seg_b"), "bucket", F.col("word").alias("wb")
    )
    inter = (
        a.join(b, "bucket")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.expr("CAST(SUM(bit_count(wa & wb)) AS BIGINT)").alias(
                "n_inter"
            )
        )
    )
    ca = card.select(F.col("seg").alias("seg_a"), F.col("n").alias("n_a"))
    cb = card.select(F.col("seg").alias("seg_b"), F.col("n").alias("n_b"))
    # pair grid from the cardinality table, intersections LEFT-joined:
    # two segments sharing NO bucket still get their (0-intersection)
    # row — the inner join alone would silently drop disjoint pairs
    # (caught by the set-algebra property witness)
    return (
        ca.join(cb, F.col("seg_a") < F.col("seg_b"))
        .join(inter, ["seg_a", "seg_b"], "left")
        .selectExpr(
            "seg_a", "seg_b", "n_a", "n_b",
            "COALESCE(n_inter, 0) AS n_inter",
            "CAST((2 * 1000000 * COALESCE(n_inter, 0)"
            " + (n_a + n_b - COALESCE(n_inter, 0)))"
            " div (2 * (n_a + n_b - COALESCE(n_inter, 0))) AS BIGINT)"
            " AS jaccard_ppm",
        )
        .orderBy("seg_a", "seg_b")
    )


def _matryoshka_oracle_sql(dims=(4, 8, 16, 32), k: int = 10) -> str:
    """DuckDB replay of prefix-truncation recall: the exact-cosine
    top-k pipeline (same decimal-quantize/round discipline as the
    knn_cosine_topk oracle) run at full width and at each prefix
    width, then overlap@k against the full-width truth."""
    def ve(d):
        sl = f"[1:{d}]" if d is not None else ""
        return (
            f"list_transform(CAST(embedding AS DOUBLE[]){sl},"
            " x -> CAST(CAST(floor(x * 1e10 + 0.5) AS BIGINT)"
            " * CAST(0.0000000001 AS DECIMAL(11,10)) AS DECIMAL(12,10)))"
        )

    def chain(tag, d):
        return f"""
    v{tag} AS (SELECT vec_id, {ve(d)} AS ve FROM embeddings),
    q{tag} AS (SELECT vec_id AS qid, ve AS qv,
                 CAST(ROUND(list_sum(list_transform(ve, x -> x*x)), 12)
                      AS DOUBLE) AS qn2
               FROM v{tag} WHERE vec_id < 8),
    c{tag} AS (SELECT vec_id, ve AS cv,
                 CAST(ROUND(list_sum(list_transform(ve, x -> x*x)), 12)
                      AS DOUBLE) AS cn2
               FROM v{tag}),
    s{tag} AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 CAST(ROUND(list_sum(list_transform(list_zip(qv, cv),
                      p -> p[1]*p[2])), 12) AS DOUBLE)
                 / (sqrt(qn2) * sqrt(cn2)) DESC, vec_id) AS rank
        FROM q{tag}, c{tag} WHERE vec_id != qid)
      WHERE rank <= {k})"""

    parts = [chain("f", None)] + [chain(f"d{d}", d) for d in dims]
    sels = []
    for d in dims:
        sels.append(f"""
    SELECT {d} AS dims,
           CAST((SELECT COUNT(*) FROM sf s JOIN sd{d} t
                 ON t.qid = s.qid AND t.vec_id = s.vec_id) AS BIGINT)
             AS n_common,
           CAST((SELECT COUNT(*) FROM sf) AS BIGINT) AS n_truth,
           CAST((2 * 1000000 * (SELECT COUNT(*) FROM sf s JOIN sd{d} t
                   ON t.qid = s.qid AND t.vec_id = s.vec_id)
                 + (SELECT COUNT(*) FROM sf))
                // (2 * (SELECT COUNT(*) FROM sf)) AS BIGINT)
             AS overlap_ppm""")
    return (
        "WITH " + ",".join(parts)
        + " SELECT * FROM (" + " UNION ALL ".join(sels)
        + ") ORDER BY dims"
    )


@query("matryoshka_truncation_recall", _matryoshka_oracle_sql())
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation study: exact-cosine top-10
    recomputed with only the first 4/8/16/32 of 64 embedding dims,
    scored as overlap@10 against the full-width exact truth (half-up
    ppm) — the measurement that tells you how many dims the ANN tier
    can drop before recall pays, complementing jl_projection_distortion
    (random projection) and ann_recall_report (index structure) with
    the PREFIX-truncation axis MRL-trained embeddings expose. Each
    width runs the same broadcast/map-side-top-k exact kNN as
    knn_cosine_topk (shuffle = ~k survivors per query per width); the
    overlap join is top-k-sized. Oracle replays every width with the
    identical decimal-quantize discipline."""
    from rocketmq_flink_spark.operators.similarity import knn_cosine

    emb = load_tables(spark, sf_dir)["embeddings"]
    truth = knn_cosine(
        emb.where(F.col("vec_id") < 8), emb, k=10
    ).select("qid", "vec_id")
    outs = []
    for d in (4, 8, 16, 32):
        sub = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        var = knn_cosine(
            sub.where(F.col("vec_id") < 8), sub, k=10
        ).select("qid", "vec_id")
        common = truth.join(var, ["qid", "vec_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_common")
        )
        total = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
        outs.append(
            common.crossJoin(F.broadcast(total)).selectExpr(
                f"CAST({d} AS INT) AS dims",
                "n_common",
                "n_truth",
                "CAST((2 * 1000000 * n_common + n_truth)"
                " div (2 * n_truth) AS BIGINT) AS overlap_ppm",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("dims")


def _ql_oracle_sql(k: int = 10, n_queries: int = 5, qlen: int = 6) -> str:
    """DuckDB replay of exact query-likelihood retrieval: postings
    tf/cf, the fixed-point log2 fold over the per-candidate JM ratio
    (cf*dl + tf*CL)/(cf*dl), integer rank."""
    return f"""
    WITH RECURSIVE t0 AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                         x -> x <> '') AS tk
      FROM documents),
    dls AS (SELECT doc_id, len(tk) AS dl FROM t0),
    nn AS (SELECT CAST(SUM(dl) AS BIGINT) AS cl FROM dls),
    tok AS (
      SELECT doc_id, i AS pos, tk[i] AS term
      FROM t0, unnest(range(1, len(tk) + 1)) AS u(i)),
    tf AS (
      SELECT t.doc_id, d.dl, t.term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN dls d USING (doc_id)
      GROUP BY 1, 2, 3),
    cfq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
    qtok AS (
      SELECT doc_id AS qid, term, MIN(pos) AS fpos
      FROM tok WHERE doc_id < {n_queries} GROUP BY 1, 2),
    qterms AS (
      SELECT qid, term FROM (
        SELECT qid, term,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fpos) AS rn
        FROM qtok)
      WHERE rn <= {qlen}),
    base AS (
      SELECT q.qid, t.doc_id, t.term,
             c.cf * t.dl + t.tf * (SELECT cl FROM nn) AS p0,
             c.cf * t.dl AS q0,
             length(bin((c.cf * t.dl + t.tf * (SELECT cl FROM nn))
                        // (c.cf * t.dl))) - 1 AS kk
      FROM qterms q JOIN tf t USING (term) JOIN cfq c USING (term)),
    it AS (
      SELECT qid, doc_id, term, kk, 0 AS i, p0 AS p, (q0 << kk) AS q,
             CAST(0 AS BIGINT) AS acc
      FROM base
      UNION ALL
      SELECT qid, doc_id, term, kk, i + 1,
             (p >> s)*(p >> s),
             CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                  THEN ((q >> s)*(q >> s)) << 1
                  ELSE (q >> s)*(q >> s) END,
             acc*2 + CASE WHEN (p >> s)*(p >> s) >= 2*((q >> s)*(q >> s))
                     THEN 1 ELSE 0 END
      FROM (SELECT *, greatest(0, length(bin(q)) - 30) AS s FROM it)
      WHERE i < 20),
    tick AS (
      SELECT qid, doc_id, acc + (CAST(kk AS BIGINT) << 20) AS tick
      FROM it WHERE i = 20),
    sc AS (
      SELECT qid, doc_id, CAST(SUM(tick) AS BIGINT) AS score_ticks
      FROM tick GROUP BY 1, 2),
    rk AS (
      SELECT qid, doc_id, score_ticks,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY score_ticks DESC, doc_id) AS rank
      FROM sc)
    SELECT qid AS query_id, doc_id, score_ticks, CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= {k} ORDER BY query_id, rank
    """


@query("query_likelihood_search", _ql_oracle_sql())
def query_likelihood_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval (Jelinek-Mercer lambda = 1/2) over
    the documents corpus — the language-model scorer next to BM25 in
    every IR curriculum, sharing its query panel (first six distinct
    normalized tokens of docs 0-4) so the two rankings are directly
    comparable (and feedable to rrf_hybrid_search as a third arm).
    The doc-independent background sum cancels under ranking, leaving
    sum over matched terms of log2((cf*dl + tf*CL)/(cf*dl)) — an
    integer-ratio fixed-point log2 per candidate, summed as BIGINT
    ticks; the oracle replays the identical fold in a recursive CTE.
    Postings joins only (cf on the vocabulary table, candidates =
    docs sharing a query term); one CL scalar driver sync. Scale
    notes: operators/retrieval.py query_likelihood_topk."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import (
        query_likelihood_topk,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        "filter(split("
        + normalize_sql("text")
        + ", '\\\\s+'), x -> x <> '')"
    )
    queries = docs.where(F.col("doc_id") < 5).selectExpr(
        "doc_id AS query_id",
        f"concat_ws(' ', slice(array_distinct({toks}), 1, 6)) AS qtext",
    )
    return (
        query_likelihood_topk(docs, queries, k=10)
        .selectExpr(
            "query_id", "doc_id", "score_ticks",
            "CAST(rank AS BIGINT) AS rank",
        )
        .orderBy("query_id", "rank")
    )


@query(
    "trailing_window_range_frame",
    """
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, ts_us,
             CAST(SUM(cents) OVER (
               PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS trail_cents,
             CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS trail_n
      FROM p)
    SELECT user_id, ts_us, trail_cents, trail_n
    FROM t ORDER BY trail_cents DESC, user_id, ts_us LIMIT 20
    """,
)
def trailing_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window: per purchase, the user's trailing
    7-DAY spend (sum + count) with a VALUE-based frame
    (RANGE BETWEEN 604800000000 micros PRECEDING AND CURRENT ROW) —
    physically a RangeFrame, not the RowFrame the rest of the window
    suite exercises: the frame boundary binds by timestamp VALUE, so
    same-timestamp peers enter together regardless of row order —
    which is also why the result is deterministic without a row
    tie-break. Top-20 trailing totals (exact cents). Scale: one
    user-partitioned ordered window — no global ordering, no state
    beyond the 7-day frame."""
    ev = load_tables(spark, sf_dir)["events"]
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-604_800_000_000, 0)
    )
    t = p.select(
        "user_id",
        "ts_us",
        F.sum("cents").over(w).cast("long").alias("trail_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("trail_n"),
    )
    return t.orderBy(F.desc("trail_cents"), "user_id", "ts_us").limit(20)


def _silhouette_oracle_sql() -> str:
    """DuckDB replay of the k-means silhouette: the shared Lloyd chain
    (same trainer as the cluster profile), then per point the
    distance-squared simplified silhouette from the nearest and
    second-nearest centroid, ticked at 1e-6 and aggregated per cell."""
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH allv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents0 AS (
      SELECT cid, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY {h}, vec_id) - 1 AS cid,
               v AS cv
        FROM allv)
      WHERE cid < 32),
    {_lloyd_step_sql('cents0', 1)},
    {_lloyd_step_sql('cents1', 2)},
    d2 AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.v, c.cv),
                      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(list_zip(e.v, c.cv),
                        z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid) AS rn
      FROM allv e CROSS JOIN cents2 c),
    ab AS (
      SELECT a.vec_id, a.cid,
             CAST(CASE WHEN b.d2 = 0 THEN 0
                  ELSE ROUND(1000000 * (b.d2 - a.d2) / b.d2, 0) END
                  AS BIGINT) AS s_tick
      FROM d2 a JOIN d2 b ON b.vec_id = a.vec_id AND b.rn = 2
      WHERE a.rn = 1)
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_tick) // COUNT(*) AS BIGINT) AS mean_sil_micro,
           CAST(MIN(s_tick) AS BIGINT) AS min_sil_micro,
           CAST(MAX(s_tick) AS BIGINT) AS max_sil_micro
    FROM ab GROUP BY cid ORDER BY cid
    """


@query("kmeans_silhouette_score", _silhouette_oracle_sql())
def kmeans_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality by simplified silhouette — the measurement
    kmeans_cluster_profile's purity can't give when labels are absent:
    per point s = (b - a)/b over distance-SQUARED to the nearest (a,
    own cell by construction) and second-nearest (b) centroid (sqrt
    dropped: monotone, sign-identical, no libm), ticked at 1e-6;
    per-cell mean/min/max micro-silhouette. Same deterministic
    portable-hash-seeded 32-cell trainer as the profile, so the two
    reports describe one model. Distances are SEQUENTIAL left-fold
    double sums (Spark `aggregate` == DuckDB list_sum, bit-identical
    on identical inputs). Scale: one n x 32 assignment pass (the IVF
    trainer's own shape), map-side-combined cell aggregates; only the
    centroid table touches the driver."""
    from rocketmq_flink_spark.operators.similarity import ivf_centroids

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = ivf_centroids(emb, "vec_id", "embedding", n_centroids=32, iters=2)
    # The centroids are already a driver-side list (ivf_centroids
    # collects them), so the nearest-2 search runs as an ARRAY FOLD
    # over a 32-entry literal centroid table inside each row — the
    # previous crossJoin(32) + vec_id-partitioned row_number window
    # shuffled |n| x 32 distance rows through a sort just to keep two
    # of them (optimization r08: guide §2.4, remove shuffles
    # outright). The per-(v, centroid) distance is the identical
    # sequential zip_with/aggregate double fold, and the running
    # (best, second) fold over cid-ascending pairs reproduces the
    # window's (d2, cid) total order exactly: a strictly smaller d2
    # replaces best (earlier cid wins ties), a tie-or-larger one can
    # only replace second under strict <.
    e = emb.select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    # one JVM-parsed SQL literal (the simhash discipline): 32 x 64
    # F.lit() Column objects would cost thousands of py4j round trips
    # per query build (measured +2 s); repr() doubles round-trip
    # exactly through Spark's literal parser
    cent_arr = F.expr(
        "array(" + ",".join(
            f"named_struct('cid', {i}, 'cv', array("
            + ",".join(repr(float(x)) + "D" for x in cv) + "))"
            for i, cv in enumerate(cents)
        ) + ")"
    )
    inf = float("inf")

    def _d2(c):
        return F.aggregate(
            F.zip_with(
                F.col("v"), c["cv"], lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pairs = F.transform(
        cent_arr,
        lambda c: F.struct(_d2(c).alias("d2"), c["cid"].alias("cid")),
    )
    best2 = F.aggregate(
        pairs,
        F.struct(
            F.lit(inf).alias("da"),
            F.lit(-1).alias("ca"),
            F.lit(inf).alias("db"),
        ),
        lambda acc, p: F.when(
            p["d2"] < acc["da"],
            F.struct(
                p["d2"].alias("da"),
                p["cid"].alias("ca"),
                acc["da"].alias("db"),
            ),
        )
        .when(
            p["d2"] < acc["db"],
            F.struct(
                acc["da"].alias("da"),
                acc["ca"].alias("ca"),
                p["d2"].alias("db"),
            ),
        )
        .otherwise(acc),
    )
    ab = e.select(best2.alias("m")).select(
        F.col("m.ca").alias("cid"),
        F.expr(
            "CAST(CASE WHEN m.db = 0 THEN 0"
            " ELSE ROUND(1000000 * (m.db - m.da) / m.db, 0) END AS BIGINT)"
        ).alias("s_tick"),
    )
    return (
        ab.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr("CAST(SUM(s_tick) div COUNT(*) AS BIGINT)").alias(
                "mean_sil_micro"
            ),
            F.min("s_tick").cast("long").alias("min_sil_micro"),
            F.max("s_tick").cast("long").alias("max_sil_micro"),
        )
        .selectExpr(
            "CAST(cid AS BIGINT) AS cid", "n_vecs", "mean_sil_micro",
            "min_sil_micro", "max_sil_micro",
        )
        .orderBy("cid")
    )


@query(
    "partition_pruning_scan",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM events WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type ORDER BY event_type
    """,
)
def partition_pruning_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning, demonstrated end to end: events
    re-written as parquet PARTITIONED BY event_type, read back with a
    partition-column predicate — Catalyst prunes at the METADATA
    level, so three of five partition directories are never opened
    (PartitionFilters in the scan node, pinned by
    tests/test_plan_quality.py) — the single most important scan
    optimization at 100 TB after column pruning, and the reason
    pipelines partition by coarse keys. The aggregate over the
    surviving partitions must match the oracle's plain filter on the
    source table, proving the re-layout is lossless. Scale: the
    partitioned write is the one-time layout cost (repartition by the
    partition column avoids small files); the read touches only the
    selected directories. The scratch layout lives at a fixed per-SF
    path reused (mode=overwrite) across invocations so repeated bench/
    sweep runs don't leak directories; on a cluster this would be a
    shared-filesystem staging path, not driver-local."""
    ev = load_tables(spark, sf_dir)["events"]
    root = _scratch_dir("part_prune", sf_dir)
    (
        ev.select(
            "event_id", "user_id", "value", "event_type"
        )
        .repartition("event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(root)
    )
    back = spark.read.parquet(root).where(
        F.col("event_type").isin("purchase", "signup")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            ).cast("long").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


def _retrieval_cmp_oracle_sql() -> str:
    """Self-retrieval rank comparison: both full ranked pipelines
    (BM25 and query-likelihood, k unbounded) as parenthesized
    subqueries, each filtered to the query's own source document."""
    bm = _bm25_oracle_sql(k=1000000)
    ql = _ql_oracle_sql(k=1000000)
    return f"""
    SELECT a.query_id, a.rank AS rank_bm25, b.rank AS rank_ql
    FROM (SELECT query_id, rank FROM ({bm}) WHERE doc_id = query_id) a
    JOIN (SELECT query_id, rank FROM ({ql}) WHERE doc_id = query_id) b
      USING (query_id)
    ORDER BY query_id
    """


@query("retrieval_model_comparison", _retrieval_cmp_oracle_sql())
def retrieval_model_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head ranker evaluation on the self-retrieval task: each
    query is derived from a known document (bm25_search_docs' panel),
    so that document's rank under each scorer is a labeled quality
    signal with zero annotation cost — the standard sanity eval before
    trusting a ranker change. Reports the source document's exact rank
    under BM25 and under the Jelinek-Mercer query-likelihood model per
    query (rank = deterministic (score desc, doc) position among all
    term-sharing candidates). Both pipelines are the existing exact
    integer-tick scorers run unbounded; the comparison is a top-k-sized
    join. A model beating the other here and losing on ndcg_retrieval
    would signal overfitting to self-similarity — which is why both
    evals exist."""
    from rocketmq_flink_spark.operators.dedup import normalize_sql
    from rocketmq_flink_spark.operators.retrieval import (
        bm25_topk,
        corpus_tokens,
        postings,
        query_likelihood_topk,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        "filter(split("
        + normalize_sql("text")
        + ", '\\\\s+'), x -> x <> '')"
    )
    queries = docs.where(F.col("doc_id") < 5).selectExpr(
        "doc_id AS query_id",
        f"concat_ws(' ', slice(array_distinct({toks}), 1, 6)) AS qtext",
    )
    # tokenize + count the corpus ONCE and hand both to both scorers:
    # BM25's total_len and QL's collection length are the same scalar,
    # so the two scorers' separate counting actions collapse to one —
    # and the POSTINGS (doc, dl, term, tf) are likewise built once and
    # passed to both (optimization r08): previously each scorer rebuilt
    # them inline in two subtrees each, so the corpus tokenized 4x in
    # the timed action on top of the stats scan (9 document scans, 50
    # Exchanges, zero reuse in the before plan)
    shared = corpus_tokens(docs)
    row = shared.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("l")
    ).collect()[0]
    n_docs, cl = int(row["n"]), int(row["l"] or 0)
    # both scorers consume the SAME query panel, so the shared postings
    # are pruned to its term set before the (doc, dl, term) count —
    # guide §3.2/§2.3, see operators/retrieval.postings (optimization
    # r09); per-term tf/df/cf of surviving terms are unchanged
    qts = queries.selectExpr(
        "explode(filter(split(" + normalize_sql("qtext")
        + ", '\\\\s+'), x -> x <> '')) AS term"
    ).distinct()
    tf = postings(shared, terms=qts)
    a = (
        bm25_topk(docs, queries, k=1_000_000, toks=shared,
                  stats=(n_docs, cl), tf_postings=tf)
        .where(F.col("query_id") == F.col("doc_id"))
        .select("query_id", F.col("rank").cast("long").alias("rank_bm25"))
    )
    b = (
        query_likelihood_topk(docs, queries, k=1_000_000, toks=shared,
                              cl=cl, tf_postings=tf)
        .where(F.col("query_id") == F.col("doc_id"))
        .select("query_id", F.col("rank").cast("long").alias("rank_ql"))
    )
    return a.join(b, "query_id").orderBy("query_id")


@query(
    "schema_evolution_merge",
    """
    WITH half AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 2 = 0 THEN NULL
                  ELSE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
             END AS cents
      FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(cents) AS BIGINT) AS n_with_value,
           CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_value,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sum_cents
    FROM half
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: generation 1 writes
    events WITHOUT the value column (event_id % 2 = 0), generation 2
    writes WITH it — then one mergeSchema read unions both, the old
    generation's missing column surfacing as NULL (never a read error,
    never a silent drop). The report counts rows per generation and
    checks the value mass survived — exactly what a 100 TB lakehouse
    hits every time a producer adds a field mid-stream, and the batch
    sibling of the connector's dirty-data policies (absent field ->
    NULL is PAD semantics at the file level). Scale: mergeSchema costs
    one footer read per FILE at planning; the data path is unchanged.
    Scratch generations live at a fixed per-SF path reused
    (mode=overwrite) across invocations — no per-run directory leak."""
    ev = load_tables(spark, sf_dir)["events"]
    root = _scratch_dir("schema_evo", sf_dir)
    g1 = ev.where(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    g2 = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    g1.write.mode("overwrite").parquet(root + "/g=1")
    g2.write.mode("overwrite").parquet(root + "/g=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        root + "/g=1", root + "/g=2"
    )
    return merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("cents").cast("long").alias("n_with_value"),
        F.sum(
            F.when(F.col("cents").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_missing_value"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("sum_cents"),
    )


def _hash_collision_oracle_sql() -> str:
    from rocketmq_flink_spark.functions.porthash import hash60_sql

    h = hash60_sql("tok")
    blocks = []
    for b in (1024, 8192):
        blocks.append(f"""
    SELECT {b} AS n_buckets,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab,
           CAST(COUNT(DISTINCT bk) AS BIGINT) AS occupied,
           CAST(MAX(terms_in_bucket) AS BIGINT) AS max_terms_per_bucket,
           CAST(SUM(CASE WHEN terms_in_bucket > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS colliding_terms,
           CAST((2 * 1000000 * SUM(CASE WHEN terms_in_bucket > 1
                                        THEN cf ELSE 0 END)
                 + SUM(cf)) // (2 * SUM(cf)) AS BIGINT)
             AS colliding_mass_ppm
    FROM (
      SELECT tok, cf, bk,
             COUNT(*) OVER (PARTITION BY bk) AS terms_in_bucket
      FROM (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf, {h} % {b} AS bk
        FROM (SELECT unnest(list_filter(
                regexp_split_to_array({_NORM_SQL_DUCK}, '\\s+'),
                x -> x <> '')) AS tok
              FROM documents)
        GROUP BY tok))""")
    return (
        "SELECT * FROM (" + " UNION ALL ".join(blocks)
        + ") ORDER BY n_buckets"
    )


@query("feature_hash_collision_report", _hash_collision_oracle_sql())
def feature_hash_collision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit at 1024 and 8192 buckets — the
    due-diligence table behind nb_source_classifier's B = 8192 choice:
    vocabulary size, occupied buckets, the worst bucket's term count,
    how many TERMS share a bucket, and (the number that matters) what
    fraction of token MASS lands in shared buckets — conflated mass is
    where a hashed model loses signal, and frequency-weighting shows
    hot tokens colliding is far worse than tail tokens. All exact
    integers over the portable hash, half-up ppm mass. Scale: one
    vocabulary-sized aggregate per width, a bucket-partitioned count
    window over the vocab table (vocabulary-bounded, never the token
    stream)."""
    from rocketmq_flink_spark.functions.porthash import hash60
    from rocketmq_flink_spark.operators.dedup import normalize_sql

    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        docs.select(
            F.explode(
                F.split(F.expr(normalize_sql("text")), r"\s+")
            ).alias("tok")
        )
        .where(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    outs = []
    for b in (1024, 8192):
        vb = vocab.withColumn("bk", hash60(F.col("tok")) % b)
        w = Window.partitionBy("bk")
        t = vb.withColumn("terms_in_bucket", F.count(F.lit(1)).over(w))
        outs.append(
            t.agg(
                F.lit(b).cast("long").alias("n_buckets"),
                F.countDistinct("tok").cast("long").alias("vocab"),
                F.countDistinct("bk").cast("long").alias("occupied"),
                F.max("terms_in_bucket").cast("long").alias(
                    "max_terms_per_bucket"
                ),
                F.sum(
                    F.when(F.col("terms_in_bucket") > 1, 1).otherwise(0)
                ).cast("long").alias("colliding_terms"),
                F.expr(
                    "CAST((2 * 1000000 * SUM(CASE WHEN terms_in_bucket > 1"
                    " THEN cf ELSE 0 END) + SUM(cf)) div (2 * SUM(cf))"
                    " AS BIGINT)"
                ).alias("colliding_mass_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("n_buckets")


@query(
    "quantile_treatment_effect",
    """
    WITH p AS (
      SELECT CASE WHEN (('0x' || substr(md5('did:' ||
                 CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) % 2 = 0
               THEN 'T' ELSE 'C' END AS arm,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    h AS (SELECT arm, cents, CAST(COUNT(*) AS BIGINT) AS c
          FROM p GROUP BY 1, 2),
    w AS (
      SELECT arm, cents,
             SUM(c) OVER (PARTITION BY arm ORDER BY cents) AS cc,
             SUM(c) OVER (PARTITION BY arm) AS n
      FROM h),
    qs AS (SELECT unnest([25, 50, 75, 90]) AS q),
    qv AS (
      SELECT qs.q, w.arm, MIN(w.cents) AS v
      FROM qs JOIN w ON 100 * w.cc >= qs.q * w.n
      GROUP BY 1, 2)
    SELECT t.q AS percentile, t.v AS t_cents, c.v AS c_cents,
           t.v - c.v AS qte_cents
    FROM (SELECT q, v FROM qv WHERE arm = 'T') t
    JOIN (SELECT q, v FROM qv WHERE arm = 'C') c USING (q)
    ORDER BY percentile
    """,
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at p25/50/75/90 — the readout that
    catches what mean-based estimates (a z-test of means, CUPED,
    diff-in-differences) average away: a treatment that moves only
    the tail shows a flat median and a large p90 effect. Per-arm purchase-value quantiles are
    rank-EXACT (smallest value whose cumulative count crosses the
    rank, from the per-arm distinct-value histogram, never
    percentile_approx), so the
    per-quantile difference is exact cents. On the untreated fixture
    the effects are the A/A noise floor. Scale: one (arm, value)
    histogram then arm-partitioned cumulative windows over DISTINCT
    values — no row-level sort."""
    from rocketmq_flink_spark.functions.porthash import hash60

    ev = load_tables(spark, sf_dir)["events"]
    p = ev.where(F.col("event_type") == "purchase").select(
        F.when(
            hash60(F.concat(F.lit("did:"), F.col("user_id").cast("string")))
            % 2 == 0,
            F.lit("T"),
        ).otherwise(F.lit("C")).alias("arm"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    h = p.groupBy("arm", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = (
        Window.partitionBy("arm")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("arm")
    w = h.select(
        "arm",
        "cents",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    qs = spark.createDataFrame([(25,), (50,), (75,), (90,)], "q LONG")
    qv = (
        F.broadcast(qs)
        .join(w, 100 * F.col("cc") >= F.col("q") * F.col("n"))
        .groupBy("q", "arm")
        .agg(F.min("cents").alias("v"))
    )
    t = qv.where(F.col("arm") == "T").select("q", F.col("v").alias("t_cents"))
    c = qv.where(F.col("arm") == "C").select("q", F.col("v").alias("c_cents"))
    return (
        t.join(c, "q")
        .select(
            F.col("q").alias("percentile"),
            "t_cents",
            "c_cents",
            (F.col("t_cents") - F.col("c_cents")).alias("qte_cents"),
        )
        .orderBy("percentile")
    )


@query(
    "point_in_time_features",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS ts_us,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events),
    w AS (
      SELECT user_id, event_id, event_type, ts_us, cents,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN cents END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_cents,
             LAST_VALUE(CASE WHEN event_type = 'signup' THEN ts_us END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_signup_us,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
               AS clicks_24h
      FROM e)
    SELECT user_id, ts_us, cents AS label_cents,
           COALESCE(last_view_cents, -1) AS last_view_cents,
           CAST(COALESCE(clicks_24h, 0) AS BIGINT) AS clicks_24h,
           CASE WHEN last_signup_us IS NULL THEN -1
                ELSE (ts_us - last_signup_us) // 1000000 END
             AS secs_since_signup
    FROM w WHERE event_type = 'purchase'
    ORDER BY user_id, ts_us, event_id LIMIT 20
    """,
)
def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: for every purchase label, the
    most recent PRIOR view value, the click count in the trailing 24
    hours (exclusive of label time), and seconds since the last prior
    signup — each feature guaranteed leakage-free by frame bounds that
    END strictly before the label row (ROWS ... 1 PRECEDING / RANGE
    ... 1 PRECEDING), the correctness property naive feature joins
    silently violate. Implemented as ONE pass of per-user ordered
    windows over the merged event stream — no join at all, which at
    100 TB beats an as-of join per feature table by a full shuffle
    each (asof_purchase_after_click demonstrates the two-table form).
    First 20 labels by (user, time). Exact integer cents/seconds."""
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    wrow = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrange = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-86_400_000_000, -1)
    )
    w = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_us",
        "cents",
        F.last(
            F.when(F.col("event_type") == "view", F.col("cents")),
            ignorenulls=True,
        ).over(wrow).alias("last_view_cents"),
        F.last(
            F.when(F.col("event_type") == "signup", F.col("ts_us")),
            ignorenulls=True,
        ).over(wrow).alias("last_signup_us"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).over(wrange).alias("clicks_24h"),
    )
    return (
        w.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts_us",
            "event_id",
            F.col("cents").alias("label_cents"),
            F.coalesce(F.col("last_view_cents"), F.lit(-1)).alias(
                "last_view_cents"
            ),
            F.coalesce(F.col("clicks_24h"), F.lit(0)).cast("long").alias(
                "clicks_24h"
            ),
            F.when(
                F.col("last_signup_us").isNull(), F.lit(-1).cast("long")
            ).otherwise(
                F.expr("(ts_us - last_signup_us) div 1000000")
            ).alias("secs_since_signup"),
        )
        # event_id rides along purely as the LIMIT-boundary tiebreaker so
        # the selected row set matches the oracle's (user, ts, event_id)
        # total order even when two same-user purchases share a microsecond
        .orderBy("user_id", "ts_us", "event_id")
        .limit(20)
        .drop("event_id")
    )


@query(
    "event_lateness_profile",
    """
    WITH q AS (
      SELECT event_id, epoch_us(ts) AS ts_us, user_id % 4 AS que,
             ROW_NUMBER() OVER (PARTITION BY user_id % 4
               ORDER BY epoch_us(ts), event_id) AS pos
      FROM events),
    a AS (
      SELECT ts_us,
             MAX(ts_us) OVER (
               ORDER BY pos, que
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
      FROM q),
    lat AS (SELECT (hwm - ts_us) // 1000 AS late_ms FROM a),
    h AS (SELECT late_ms, CAST(COUNT(*) AS BIGINT) AS c
          FROM lat GROUP BY 1),
    w AS (
      SELECT late_ms, c AS cv,
             SUM(c) OVER (ORDER BY late_ms) AS cc,
             SUM(c) OVER () AS n
      FROM h)
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           CAST((2 * 1000000 * SUM(CASE WHEN late_ms = 0 THEN cv ELSE 0 END)
                 + MAX(n)) // (2 * MAX(n)) AS BIGINT) AS in_order_ppm,
           CAST(MIN(CASE WHEN 2 * cc >= n THEN late_ms END) AS BIGINT)
             AS p50_late_ms,
           CAST(MIN(CASE WHEN 20 * cc >= 19 * n THEN late_ms END) AS BIGINT)
             AS p95_late_ms,
           CAST(MIN(CASE WHEN 1000 * cc >= 999 * n THEN late_ms END)
                AS BIGINT) AS p999_late_ms,
           CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
    FROM w
    """,
)
def event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of a MULTI-QUEUE merge — the reference
    phenomenon in numbers: four queues (user_id mod 4) each deliver in
    perfect local order, but the round-robin merged stream is globally
    out of order because queues advance at different event-time rates
    (exactly why the reference has per-queue watermarks, W2, and why a
    single bounded-out-of-orderness delay, W1, must be sized from this
    table). Lateness = merged-stream event-time high-water-mark minus
    own event time; report the in-order fraction and rank-exact
    p50/p95/p99.9/max lateness in ms — the p99.9 row IS the W1 delay
    to configure, and max >> p99.9 says route stragglers to the
    late-data router (W10) instead. Scale: per-queue position windows
    parallelize by queue; the merge high-water-mark is the EXACT
    distributed running max (operators/ranking.py — range buckets on
    the merge position, per-bucket max offsets, bucket-partitioned
    windows; no single-partition window); percentiles run on the
    distinct-value lateness histogram."""
    ev = load_tables(spark, sf_dir)["events"]
    wq = Window.partitionBy(F.expr("user_id % 4")).orderBy(
        F.unix_micros("ts"), "event_id"
    )
    # the per-queue position window feeds distributed_prefix's three
    # passes (bounds, bucket totals, hwm window): one cut stops the
    # events scan + queue window re-running per pass (12 scans / 18
    # Window nodes in the before plan — optimization r09)
    q = _cut_big(ev.select(
        F.unix_micros("ts").alias("ts_us"),
        F.expr("user_id % 4").alias("que"),
        F.row_number().over(wq).alias("pos"),
    ))
    from rocketmq_flink_spark.operators.ranking import distributed_prefix

    a = distributed_prefix(
        q, ["pos", "que"], "pos", max_cols=["ts_us"]
    ).select("ts_us", F.col("cummax_ts_us").alias("hwm"))
    lat = a.select(F.expr("(hwm - ts_us) div 1000").alias("late_ms"))
    h = lat.groupBy("late_ms").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = Window.orderBy("late_ms").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    w = h.select(
        "late_ms",
        F.col("c").alias("cv"),
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    return w.agg(
        F.max("n").cast("long").alias("n_events"),
        F.expr(
            "CAST((2 * 1000000 * SUM(CASE WHEN late_ms = 0 THEN cv"
            " ELSE 0 END) + MAX(n)) div (2 * MAX(n)) AS BIGINT)"
        ).alias("in_order_ppm"),
        F.min(
            F.when(2 * F.col("cc") >= F.col("n"), F.col("late_ms"))
        ).cast("long").alias("p50_late_ms"),
        F.min(
            F.when(20 * F.col("cc") >= 19 * F.col("n"), F.col("late_ms"))
        ).cast("long").alias("p95_late_ms"),
        F.min(
            F.when(1000 * F.col("cc") >= 999 * F.col("n"), F.col("late_ms"))
        ).cast("long").alias("p999_late_ms"),
        F.max("late_ms").cast("long").alias("max_late_ms"),
    )


@query(
    "late_data_router_audit",
    """
    WITH q AS (
      SELECT event_id, epoch_us(ts) AS ts_us, user_id % 4 AS que,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY user_id % 4
               ORDER BY epoch_us(ts), event_id) AS pos
      FROM events),
    a AS (
      SELECT event_id, ts_us, cents,
             MAX(ts_us) OVER (
               ORDER BY pos, que
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM q),
    r AS (
      SELECT CASE WHEN hwm IS NOT NULL
                   AND ts_us < hwm - 3600000000 THEN 'late'
                  ELSE 'kept' END AS route,
             event_id, cents
      FROM a)
    SELECT route, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM r GROUP BY route ORDER BY route
    """,
)
def late_data_router_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing of late data (W10), replayed as a
    deterministic batch audit: on the four-queue round-robin merge
    (event_lateness_profile's arrival order), the watermark is the
    running event-time high-water-mark minus a 1-hour
    bounded-out-of-orderness delay, and every event older than that
    at arrival routes to the late stream instead of being dropped —
    the reference drops late rows silently; the router is this
    engine's exceeds-reference behavior, here pinned by COUNTS and
    CHECKSUMS per route (id and cents sums prove the split is a
    partition, not a filter: kept + late = everything). Scale: same
    distributed running-max shape as the lateness profile (exclusive
    frame — the watermark a row is judged against excludes the row
    itself); routing is a pure per-row expression."""
    ev = load_tables(spark, sf_dir)["events"]
    wq = Window.partitionBy(F.expr("user_id % 4")).orderBy(
        F.unix_micros("ts"), "event_id"
    )
    q = ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("user_id % 4").alias("que"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.row_number().over(wq).alias("pos"),
    )
    from rocketmq_flink_spark.operators.ranking import distributed_prefix

    a = distributed_prefix(
        q, ["pos", "que"], "pos", max_cols_excl=["ts_us"]
    ).select(
        "event_id",
        "ts_us",
        "cents",
        F.col("cummaxx_ts_us").alias("hwm"),
    )
    r = a.select(
        F.when(
            F.col("hwm").isNotNull()
            & (F.col("ts_us") < F.col("hwm") - 3_600_000_000),
            F.lit("late"),
        ).otherwise(F.lit("kept")).alias("route"),
        "event_id",
        "cents",
    )
    return (
        r.groupBy("route")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_id"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("route")
    )


@query(
    "source_embedding_separation",
    """
    WITH j AS (
      SELECT d.source,
             list_transform(CAST(e.embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS vt
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
    ex AS (
      SELECT source, z[2] AS dim, CAST(z[1] AS BIGINT) AS t
      FROM (SELECT source, unnest(list_zip(vt, range(0, 64))) AS z
            FROM j)),
    s AS (
      SELECT source, dim, CAST(SUM(t) AS BIGINT) AS v
      FROM ex GROUP BY 1, 2),
    n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM j GROUP BY 1),
    nor AS (
      SELECT source, CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS n2
      FROM s GROUP BY 1),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS dot
      FROM s a JOIN s b ON b.dim = a.dim AND a.source < b.source
      GROUP BY 1, 2)
    SELECT pr.source_a, pr.source_b, na.n_docs AS n_a, nb.n_docs AS n_b,
           ROUND(CAST(pr.dot AS DOUBLE)
                 / (sqrt(CAST(ra.n2 AS DOUBLE))
                    * sqrt(CAST(rb.n2 AS DOUBLE))), 9) AS centroid_cos
    FROM pr JOIN n na ON na.source = pr.source_a
            JOIN n nb ON nb.source = pr.source_b
            JOIN nor ra ON ra.source = pr.source_a
            JOIN nor rb ON rb.source = pr.source_b
    ORDER BY source_a, source_b
    """,
)
def source_embedding_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table semantic separation: for every source pair, the
    cosine between the sources' embedding CENTROIDS (documents joined
    to their vectors on doc_id = vec_id) — the one-number answer to
    "are these corpora semantically distinct?" that drives mixture
    and dedup decisions across tables, complementing
    lang_similarity_jsd (surface trigram view) with the embedding
    view. Cosine of the SUM vector equals cosine of the mean
    (scale-invariant), so no division happens before the final IEEE
    sqrt/divide: components quantize to 1e-10 integer ticks, per-dim
    sums and the 64-term dot/norms are exact HUGEINT/decimal
    integers, and identical exact integers convert to identical
    doubles in both engines (the knn_cosine discipline). Scale: one
    doc-keyed join, one (source, dim) map-side sum — the pairwise
    stage is source-vocabulary bounded (|S|^2 x 64 cells)."""
    t = load_tables(spark, sf_dir)
    j = (
        t["documents"]
        .select("doc_id", "source")
        .join(
            t["embeddings"].select(
                F.col("vec_id"),
                F.expr(
                    "transform(CAST(embedding AS ARRAY<DOUBLE>),"
                    " x -> CAST(floor(x * 1e10 + 0.5) AS BIGINT))"
                ).alias("vt"),
            ),
            F.col("vec_id") == F.col("doc_id"),
        )
    )
    ex = j.select(
        "source", F.posexplode("vt").alias("dim", "tick")
    )
    s = ex.groupBy("source", "dim").agg(
        F.sum("tick").cast("long").alias("v")
    )
    n = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    D = "DECIMAL(38,0)"
    nor = s.groupBy("source").agg(
        F.sum(F.expr(f"CAST(v AS {D}) * v")).cast(D).alias("n2")
    )
    a = s.select(
        F.col("source").alias("source_a"), "dim", F.col("v").alias("va")
    )
    b = s.select(
        F.col("source").alias("source_b"), "dim", F.col("v").alias("vb")
    )
    pr = (
        a.join(b, "dim")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.expr(f"CAST(va AS {D}) * vb")).cast(D).alias("dot")
        )
    )
    na = n.select(F.col("source").alias("source_a"), F.col("n_docs").alias("n_a"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n_docs").alias("n_b"))
    ra = nor.select(F.col("source").alias("source_a"), F.col("n2").alias("na2"))
    rb = nor.select(F.col("source").alias("source_b"), F.col("n2").alias("nb2"))
    return (
        pr.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .join(F.broadcast(ra), "source_a")
        .join(F.broadcast(rb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                9,
            ).alias("centroid_cos"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Round-8 anchors (VERDICT r7 item 6): driver-witnessed coverage for three
# previously tests-only behaviors — W7 offset-snapshot replay, O3 enforced
# ACL, and W2 per-queue watermarks.
# ---------------------------------------------------------------------------


@query(
    "restart_offsets_replay",
    """
    SELECT event_type,
      CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_epoch1,
      CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_epoch2,
      COUNT(*) AS n_total,
      CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS dup_count,
      CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def restart_offsets_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 offset-snapshot replay, batch-expressible (the catalog analog
    of tests/test_restart.py): epoch 1 (even event_ids) is committed,
    the per-queue latest offsets are snapshotted — exactly what the
    Structured Streaming offset log persists, and what the reference
    checkpoints as union state (legacy/RocketMQSourceFunction.java:431-543)
    — then epoch 2 (odd ids) is committed, and a "restarted" consumer
    reads run 1 bounded by `endingOffsets=<snapshot>` plus run 2 from
    `startingOffsets=<snapshot>`. The union must reconstruct the whole
    table with dup_count == 0 per event_type: the snapshot boundary
    loses nothing and replays nothing. Scale: the snapshot is
    per-queue scalars (8 numbers — the same driver-side cost the SS
    offset log pays); reads, decode, and the agg are fully
    distributed. The countDistinct is the exact certificate — one
    (type, id) pair per event, the minimal content-level exactly-once
    proof; at production scale the
    cheap tier is offset arithmetic (per-queue counts vs snapshot
    deltas, zero shuffle) with this content audit run on a sampled
    topic slice."""
    import json as _json
    import tempfile

    from rocketmq_flink_spark.functions import decode_envelope, encode_rows
    from rocketmq_flink_spark.sources import register
    from rocketmq_flink_spark.sources.broker import Broker

    register(spark)
    root = tempfile.mkdtemp(prefix="rocketmq_restart_")
    ev = _events_typed(spark, sf_dir).select(
        "event_id", "user_id", "value", "ts", "event_type"
    )

    def commit(epoch_filter):
        env = encode_rows(
            ev.where(epoch_filter),
            options={
                "topic": "restart_in",
                "keyColumns": "event_id",
                "writeKeysToBody": "true",
                "isDynamicTag": "true",
                "dynamicTagColumn": "event_type",
            },
            born_ts_col="ts",
        )
        (
            env.write.format("rocketmq")
            .option("path", root).option("topic", "restart_in")
            .option("numQueues", "8").mode("append").save()
        )

    commit(F.col("event_id") % 2 == 0)  # epoch 1
    broker = Broker(root)
    snapshot = _json.dumps({
        str(q): broker.latest_offset("restart_in", q)
        for q in broker.queues("restart_in")
    })
    commit(F.col("event_id") % 2 == 1)  # epoch 2 (post-snapshot)

    def run(run_no: int, **offset_opts) -> DataFrame:
        env = (
            spark.read.format("rocketmq")
            .option("path", root).option("topic", "restart_in")
            .options(**offset_opts)
            .load()
        )
        return decode_envelope(
            env,
            "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP",
            metadata_columns=["tags"],
        ).withColumn("run_no", F.lit(run_no))

    replayed = run(1, endingOffsets=snapshot).unionByName(
        run(2, startingOffsets=snapshot)
    )
    return (
        replayed.groupBy(F.col("tags").alias("event_type"))
        .agg(
            F.sum((F.col("run_no") == 1).cast("long")).alias("n_epoch1"),
            F.sum((F.col("run_no") == 2).cast("long")).alias("n_epoch2"),
            F.count(F.lit(1)).alias("n_total"),
            (F.count(F.lit(1)) - F.countDistinct("event_id"))
            .cast("long").alias("dup_count"),
            F.sum("event_id").alias("sum_id"),
        )
        .orderBy("event_type")
    )


@query(
    "acl_denial_audit",
    """
    WITH n AS (SELECT COUNT(*) AS c FROM events WHERE event_id < 200)
    SELECT principal, op, allowed,
           CAST(CASE WHEN allowed THEN (SELECT c FROM n) ELSE 0 END
                AS BIGINT) AS n_rows
    FROM (VALUES
      ('producer', 'write', TRUE),
      ('analyst', 'read', TRUE),
      ('intruder', 'read', FALSE),
      ('anonymous', 'read', FALSE),
      ('intruder', 'write', FALSE),
      ('analyst_after_denied_write', 'read', TRUE)
    ) AS t(principal, op, allowed)
    ORDER BY principal, op
    """,
)
def acl_denial_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 ACL enforcement as a witnessed audit (previously tests-only):
    the broker gets an accessKey->secretKey ACL (the plain_acl.yml
    analog; reference AclClientRPCHook wiring,
    legacy/RocketMQConfig.java:48-49,175-181), a credentialed producer
    commits a slice of events, then four read/write attempts run with
    good, wrong, and missing credentials. Every denial must raise
    BEFORE any data moves (n_rows 0), every grant must see exactly the
    committed slice, and a denied WRITE must leave the topic byte-for-
    byte intact — the final re-read proves it. The audit table itself
    is 6 driver-side rows; the granted reads/writes are distributed."""
    import tempfile

    from rocketmq_flink_spark.functions import decode_envelope, encode_rows
    from rocketmq_flink_spark.sources import register
    from rocketmq_flink_spark.sources.broker import set_acl

    register(spark)
    root = tempfile.mkdtemp(prefix="rocketmq_acl_")
    set_acl(root, {"producer_key": "ps", "analyst_key": "as"})
    ev = _events_typed(spark, sf_dir).select(
        "event_id", "user_id", "value", "ts"
    ).where(F.col("event_id") < 200)
    env = encode_rows(
        ev,
        options={"topic": "guarded", "keyColumns": "event_id",
                 "writeKeysToBody": "true"},
        born_ts_col="ts",
    )

    def write_as(key, secret):
        (
            env.write.format("rocketmq")
            .option("path", root).option("topic", "guarded")
            .option("accessKey", key).option("secretKey", secret)
            .mode("append").save()
        )

    def read_as(key=None, secret=None) -> int:
        r = spark.read.format("rocketmq").option("path", root).option(
            "topic", "guarded"
        )
        if key is not None:
            r = r.option("accessKey", key).option("secretKey", secret)
        df = r.load()
        return decode_envelope(
            df, "event_id BIGINT, user_id BIGINT, value DOUBLE, ts TIMESTAMP"
        ).count()

    def attempt(fn) -> tuple[bool, int]:
        try:
            out = fn()
            return True, int(out if out is not None else 0)
        except Exception as exc:  # PermissionError surfaces via Py4J
            if "ACL rejected" not in str(exc):
                raise
            return False, 0

    audit = []
    ok, _ = attempt(lambda: write_as("producer_key", "ps"))
    n_granted = read_as("analyst_key", "as")
    audit.append(("producer", "write", ok, n_granted if ok else 0))
    audit.append(("analyst", "read", True, n_granted))
    audit.append(("intruder", "read") + attempt(
        lambda: read_as("producer_key", "wrong-secret")
    ))
    audit.append(("anonymous", "read") + attempt(lambda: read_as()))
    audit.append(("intruder", "write") + attempt(
        lambda: write_as("intruder_key", "ps")
    ))
    # the denied write must not have changed the topic
    audit.append((
        "analyst_after_denied_write", "read", True,
        read_as("analyst_key", "as"),
    ))
    return spark.createDataFrame(
        audit, "principal string, op string, allowed boolean, n_rows long"
    ).orderBy("principal", "op")


@query(
    "per_queue_watermark_skew",
    """
    WITH q AS (
      SELECT user_id % 8 AS queue_id, epoch_us(ts) AS us FROM events
    ),
    wm AS (
      SELECT queue_id, COUNT(*) AS n_events,
             MAX(us) - 300000000 AS wm_q_us
      FROM q GROUP BY queue_id
    ),
    g AS (SELECT MIN(wm_q_us) AS wm_g_us FROM wm)
    SELECT w.queue_id, w.n_events, w.wm_q_us,
      (SELECT COUNT(*) FROM q
       WHERE q.queue_id = w.queue_id AND q.us < w.wm_q_us) AS late_own,
      (SELECT COUNT(*) FROM q
       WHERE q.queue_id = w.queue_id
         AND q.us < (SELECT wm_g_us FROM g)) AS late_global
    FROM wm w ORDER BY w.queue_id
    """,
)
def per_queue_watermark_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 per-queue watermarks under queue skew (previously pinned only
    by the Python-model equivalence test): events hash to 8 queues
    (user_id % 8 — the queue-allocation analog, R6), each queue tracks
    its own bounded-out-of-orderness watermark max(ts) - 5min
    (reference WaterMarkPerQueue vs the global WaterMarkForAll,
    legacy/RocketMQSourceFunction.java watermark wiring), and the
    report counts each queue's events that fall behind its OWN
    watermark vs behind the GLOBAL min-across-queues watermark.
    late_global - late_own is exactly the skew penalty a single global
    watermark would charge this queue — the number the W2 design
    removes. Scale: one 8-group agg + one broadcast of the 8 watermark
    scalars back across events; timestamps compared as epoch micros so
    the oracle is precision-exact."""
    ev = _events_typed(spark, sf_dir).select(
        (F.col("user_id") % 8).alias("queue_id"),
        F.unix_micros("ts").alias("us"),
    )
    wm = ev.groupBy("queue_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.lit(300_000_000)).alias("wm_q_us"),
    )
    glob = wm.agg(F.min("wm_q_us").alias("wm_g_us"))
    late = (
        ev.join(F.broadcast(wm.select("queue_id", "wm_q_us")), "queue_id")
        .crossJoin(F.broadcast(glob))
        .groupBy("queue_id")
        .agg(
            F.sum((F.col("us") < F.col("wm_q_us")).cast("long"))
            .alias("late_own"),
            F.sum((F.col("us") < F.col("wm_g_us")).cast("long"))
            .alias("late_global"),
        )
    )
    return (
        wm.join(late, "queue_id")
        .select("queue_id", "n_events", "wm_q_us", "late_own", "late_global")
        .orderBy("queue_id")
    )
