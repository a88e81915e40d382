"""Codec unit tests mirroring the reference's deserializer tests
(src/test/java/org/apache/rocketmq/flink/source/reader/deserializer/
RocketMQRowDeserializationSchemaTest.java) plus dirty-data policy
coverage the reference only exercises implicitly."""

from __future__ import annotations

import datetime as dt
import threading
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rocketmq_flink_spark.functions.codec import decode_envelope, encode_rows
from rocketmq_flink_spark.schema import time_field

FD = "\x01"  # default fieldDelimiter (reference RocketMQOptions.java:55)


def envelope(spark, bodies: list[str], props=None):
    rows = [
        Row(
            topic="t",
            queue_id=0,
            offset=i,
            msg_id=f"m{i}",
            keys=None,
            tags=None,
            born_ts=dt.datetime(2024, 1, 1),
            store_ts=dt.datetime(2024, 1, 1),
            props=props[i] if props else {},
            value=b.encode("utf-8"),
        )
        for i, b in enumerate(bodies)
    ]
    from rocketmq_flink_spark.schema import ENVELOPE_SCHEMA

    return spark.createDataFrame(rows, schema=ENVELOPE_SCHEMA)


WIDE_SCHEMA = T.StructType(
    [
        T.StructField("int", T.IntegerType()),
        T.StructField("varchar", T.StringType()),
        T.StructField("bool", T.BooleanType()),
        T.StructField("char", T.StringType()),
        T.StructField("tinyint", T.ByteType()),
        T.StructField("decimal", T.DecimalType(10, 5)),
        T.StructField("smallint", T.ShortType()),
        T.StructField("bigint", T.LongType()),
        T.StructField("float", T.FloatType()),
        T.StructField("double", T.DoubleType()),
        T.StructField("date", T.DateType()),
        time_field("time"),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def wide_body(ts="1704067200123"):
    return FD.join(
        [
            "42",
            "hello",
            "1",
            "abcde",
            "7",
            "12345.54321",
            "300",
            "9999999999",
            "1.5",
            "2.25",
            "2024-01-01",
            "3661000",
            ts,
        ]
    )


def test_wide_type_matrix(spark):
    df = decode_envelope(envelope(spark, [wide_body()]), WIDE_SCHEMA)
    row = df.collect()[0]
    assert row["int"] == 42
    assert row["varchar"] == "hello"
    assert row["bool"] is True
    assert row["tinyint"] == 7
    assert row["decimal"] == Decimal("12345.54321")
    assert row["smallint"] == 300
    assert row["bigint"] == 9999999999
    assert row["float"] == pytest.approx(1.5)
    assert row["double"] == pytest.approx(2.25)
    assert row["date"] == dt.date(2024, 1, 1)
    assert row["time"] == 3661000  # millis-of-day
    assert row["timestamp"] == dt.datetime(2024, 1, 1, 0, 0, 0, 123000)


def test_timestamp_dual_format(spark):
    body = wide_body(ts="2024-01-01 00:00:00.123")
    df = decode_envelope(envelope(spark, [body]), WIDE_SCHEMA)
    assert df.collect()[0]["timestamp"] == dt.datetime(2024, 1, 1, 0, 0, 0, 123000)


def test_bool_accepts_1_0_true_false(spark):
    schema = T.StructType([T.StructField("b", T.BooleanType())])
    df = decode_envelope(envelope(spark, ["true", "0", "FALSE", "1"]), schema)
    assert [r["b"] for r in df.collect()] == [True, False, False, True]


def test_multiline_body(spark):
    schema = "a INT, b STRING"
    body = f"1{FD}x\n2{FD}y\n3{FD}z"
    df = decode_envelope(envelope(spark, [body]), schema)
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_null_sentinel(spark):
    schema = "a INT, b STRING"
    df = decode_envelope(envelope(spark, [f"\\N{FD}\\N"]), schema)
    row = df.collect()[0]
    assert row.a is None and row.b is None


def test_custom_delimiters(spark):
    schema = "a INT, b STRING"
    df = decode_envelope(
        envelope(spark, ["1|x;2|y"]),
        schema,
        options={"fieldDelimiter": "|", "lineDelimiter": ";"},
    )
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_unescape_drops_lone_trailing_backslash(spark):
    """A delimiter option ending in a lone backslash loses it, as
    unescapeJava drops it; escapes still unescape, and a decode with
    such a delimiter runs."""
    from rocketmq_flink_spark.functions.codec import _unescape

    assert _unescape("a\\") == "a"
    assert _unescape("\\") == ""
    assert _unescape("|\\\\") == "|\\"
    assert _unescape("\\t") == "\t"
    assert _unescape("\\u0001") == "\u0001"
    df = decode_envelope(envelope(spark, ["1|x"]), "a INT, b STRING",
                         options={"fieldDelimiter": "|\\"})
    assert [(r.a, r.b) for r in df.collect()] == [(1, "x")]


def test_varbinary_passthrough(spark):
    schema = T.StructType([T.StructField("value", T.BinaryType())])
    df = decode_envelope(envelope(spark, ["rawbytes"]), schema)
    assert bytes(df.collect()[0]["value"]) == b"rawbytes"


def test_all_header_fields(spark):
    schema = "k INT, v STRING"
    df = decode_envelope(
        envelope(spark, [""], props=[{"k": "5", "v": "hi"}]),
        schema,
        options={"headerFields": "k,v"},
    )
    row = df.collect()[0]
    assert (row.k, row.v) == (5, "hi")


def test_mixed_header_and_data_fields(spark):
    schema = "k INT, a INT, b STRING"
    df = decode_envelope(
        envelope(spark, [f"1{FD}x"], props=[{"k": "9"}]),
        schema,
        options={"headerFields": "k"},
    )
    row = df.collect()[0]
    assert (row.k, row.a, row.b) == (9, 1, "x")


def test_metadata_projection(spark):
    schema = "a INT, b STRING"
    df = decode_envelope(
        envelope(spark, [f"1{FD}x"]),
        schema,
        metadata_columns=["topic", "queue_id", "offset"],
    )
    row = df.collect()[0]
    assert (row.topic, row.queue_id, row.offset) == ("t", 0, 0)


# --- dirty data strategies -------------------------------------------------

DIRTY = ["1\x01x", "2", "3\x01y\x01EXTRA", "zz\x01w"]  # ok, missing, extra, bad-int


def test_length_check_none_defaults(spark):
    # defaults SKIP/SKIP/CUT: missing row dropped, extra cut, bad-int dropped
    df = decode_envelope(envelope(spark, DIRTY), "a INT, b STRING")
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (3, "y")]


def test_length_check_skip(spark):
    # SKIP everywhere: only the fully well-formed row survives
    df = decode_envelope(
        envelope(spark, DIRTY), "a INT, b STRING", options={"lengthCheck": "SKIP"}
    )
    assert [(r.a, r.b) for r in df.collect()] == [(1, "x")]


def test_length_check_pad(spark):
    # PAD: missing -> nulls, extra -> cut, bad field -> NULL
    df = decode_envelope(
        envelope(spark, DIRTY), "a INT, b STRING", options={"lengthCheck": "PAD"}
    )
    assert sorted(
        ((r.a, r.b) for r in df.collect()),
        key=lambda t: (t[0] is None, t),
    ) == [(1, "x"), (2, None), (3, "y"), (None, "w")]


def test_out_of_range_integer_is_a_format_error(spark):
    # Integer.parseInt throws NumberFormatException on overflow, which the
    # reference handles as a format error. Under ANSI mode a plain cast
    # would fail the whole query instead, for header fields too.
    bodies = ["1|2", "99999999999|3", "4|12345678901234567890"]
    props = [{"h": "5"}, {"h": "6"}, {"h": "99999999999"}]

    def decode(preset):
        return decode_envelope(
            envelope(spark, bodies, props),
            "a INT, b BIGINT, h INT",
            options={"fieldDelimiter": "|", "headerFields": "h", "lengthCheck": preset},
        )

    assert [tuple(r) for r in decode("SKIP").collect()] == [(1, 2, 5)]
    assert sorted(
        (tuple(r) for r in decode("PAD").collect()), key=repr
    ) == [(1, 2, 5), (4, None, None), (None, 3, 6)]
    with pytest.raises(Exception, match="unparseable field value"):
        decode("EXCEPTION").collect()


def test_out_of_range_epoch_millis_is_a_format_error(spark):
    # a long whose micros overflow is no timestamp; it must not fail the query
    df = decode_envelope(
        envelope(spark, ["1|1704067200123", "2|9000000000000000000"]),
        "a INT, ts TIMESTAMP",
        options={"fieldDelimiter": "|", "lengthCheck": "PAD"},
    )
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0, 123000)),
        (2, None),
    ]


def test_length_check_exception(spark):
    df = decode_envelope(
        envelope(spark, ["1"]), "a INT, b STRING", options={"lengthCheck": "EXCEPTION"}
    )
    with pytest.raises(Exception, match="fewer fields"):
        df.collect()


def test_unknown_option_rejected(spark):
    from rocketmq_flink_spark.config import OptionError

    with pytest.raises(OptionError, match="unsupported option"):
        decode_envelope(envelope(spark, ["1"]), "a INT", options={"bogus": "1"})


def test_option_case_insensitive(spark):
    df = decode_envelope(
        envelope(spark, ["1|x"]),
        "a INT, b STRING",
        options={"FIELDDELIMITER": "|"},
    )
    assert [(r.a, r.b) for r in df.collect()] == [(1, "x")]


# --- encode ----------------------------------------------------------------


def test_encode_decode_roundtrip(spark):
    src = spark.createDataFrame(
        [(1, "alice", 3.5, dt.datetime(2024, 1, 2, 3, 4, 5)), (2, None, None, None)],
        "id INT, name STRING, score DOUBLE, ts TIMESTAMP",
    )
    env = encode_rows(src, options={"topic": "rt"})
    back = decode_envelope(env, "id INT, name STRING, score DOUBLE, ts TIMESTAMP")
    got = sorted([tuple(r) for r in back.collect()])
    want = sorted([tuple(r) for r in src.collect()])
    assert got == want


def test_encode_key_and_dynamic_columns(spark):
    src = spark.createDataFrame(
        [("o1", "alice", "iphone 12", "hot")],
        "id STRING, user STRING, item STRING, tagcol STRING",
    )
    env = encode_rows(
        src,
        options={
            "topic": "orders",
            "keyColumns": "id",
            "isDynamicTag": "true",
            "dynamicTagColumn": "tagcol",
            "isDynamicProperty": "true",
            "dynamicPropertyColumns": "user,item",
        },
    )
    row = env.collect()[0]
    assert row.keys == "o1"
    assert row.tags == "hot"
    assert dict(row.props) == {"user": "alice", "item": "iphone 12"}
    # body excludes key and property columns; the dynamic tag column stays
    # because dynamicTagColumnWriteIncluded defaults TRUE
    # (reference RocketMQOptions.java:70)
    assert bytes(row.value) == b"hot"


def test_encode_dynamic_tag_excluded_when_not_included(spark):
    src = spark.createDataFrame(
        [("a", "hot")], "payload STRING, tagcol STRING"
    )
    env = encode_rows(
        src,
        options={
            "topic": "t",
            "isDynamicTag": "true",
            "dynamicTagColumn": "tagcol",
            "dynamicTagColumnWriteIncluded": "false",
        },
    )
    row = env.collect()[0]
    assert row.tags == "hot"
    assert bytes(row.value) == b"a"  # tag column excluded from the body


def test_decode_rejects_empty_field_delimiter(spark):
    with pytest.raises(ValueError, match="fieldDelimiter"):
        decode_envelope(
            envelope(spark, ["1,2"]),
            "a INT, b INT",
            options={"fieldDelimiter": ""},
        )


def test_encode_keys_only_gives_empty_body(spark):
    # every column routed out of the body: the body is empty, not an error
    src = spark.createDataFrame([("k1",)], "id STRING")
    row = encode_rows(src, options={"topic": "t", "keyColumns": "id"}).collect()[0]
    assert (row.keys, bytes(row.value)) == ("k1", b"")


def test_encode_write_keys_to_body(spark):
    src = spark.createDataFrame([("k1", "v1")], "id STRING, payload STRING")
    env = encode_rows(
        src, options={"topic": "t", "keyColumns": "id", "writeKeysToBody": "true"}
    )
    row = env.collect()[0]
    assert bytes(row.value) == b"k1\x01v1"


def test_encode_null_sentinel_keeps_positions(spark):
    src = spark.createDataFrame([(None, "x")], "a STRING, b STRING")
    env = encode_rows(src, options={"topic": "t"})
    assert bytes(env.collect()[0].value) == b"\\N\x01x"


# --- build cost -------------------------------------------------------------

REPLAY_SCHEMA = "id BIGINT, user STRING, amount INT, cat STRING"
PRODUCE_COLUMNS = "id BIGINT, user STRING, kind STRING, region STRING, amount INT, note STRING"
PRODUCE_OPTIONS = {
    "fieldDelimiter": "|",
    "keyColumns": "user",
    "isDynamicTag": "true",
    "dynamicTagColumn": "kind",
    "dynamicTagColumnWriteIncluded": "false",
    "isDynamicProperty": "true",
    "dynamicPropertyColumns": "region",
}
# 12 more fields of every coerced kind, for the per-field cost
EXTRA_COLUMNS = ", ".join(
    f"x{i} {t}"
    for i, t in enumerate(
        ["INT", "BIGINT", "DOUBLE", "DECIMAL(10,2)", "BOOLEAN", "DATE",
         "TIMESTAMP", "STRING", "SMALLINT", "TINYINT", "FLOAT", "BINARY"]
    )
)


def _py4j_calls(monkeypatch, build) -> int:
    """Py4J round trips that the second of two builds makes. Py4J's
    finalizer thread sends the deletes of freed Java objects whenever it
    runs, so only this thread's calls count."""
    from py4j.java_gateway import GatewayClient

    build()
    calls = 0
    send = GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counting)
        build()
    return calls


def test_codec_build_py4j_calls(spark, monkeypatch):
    # each F.*/Column call costs several Py4J round trips; the codec hands
    # Spark SQL text in a few DataFrame calls, so a build stays cheap and
    # a field adds at most the cost of its entries in those calls
    env = envelope(spark, [])
    opts = {"fieldDelimiter": "|", "lengthCheck": "SKIP"}

    def decode(schema):
        return _py4j_calls(monkeypatch, lambda: decode_envelope(env, schema, opts))

    def encode(columns):
        df = spark.createDataFrame([], columns)
        return _py4j_calls(monkeypatch, lambda: encode_rows(df, PRODUCE_OPTIONS))

    narrow = decode(REPLAY_SCHEMA)
    assert narrow <= 60
    assert decode(f"{REPLAY_SCHEMA}, {EXTRA_COLUMNS}") - narrow <= 2 * 12
    narrow = encode(PRODUCE_COLUMNS)
    assert narrow <= 60
    assert encode(f"{PRODUCE_COLUMNS}, {EXTRA_COLUMNS}") - narrow <= 2 * 12


# --- SQL text quoting -------------------------------------------------------

# quotes, a backslash, regex metacharacters and \x01
TRICKY = "'\\.|*+?^$()[]{}\x01`\""


def _option(delim: str) -> str:
    """The option text for a delimiter: options unescape like Java literals."""
    return delim.replace("\\", "\\\\")


def _text(alphabet: str, **kwargs):
    return st.text(alphabet=st.sampled_from(alphabet), **kwargs)


@st.composite
def quoting_cases(draw):
    fd = draw(_text(TRICKY, min_size=1, max_size=3))
    ld = draw(_text(TRICKY, min_size=1, max_size=3))
    sentinel = draw(_text(TRICKY + "N", min_size=1, max_size=4))
    names = draw(
        st.lists(
            _text("ab .'`\"\\", min_size=1, max_size=5).filter(
                lambda n: n == n.strip()  # option lists strip their items
            ),
            min_size=3,
            max_size=3,
            unique_by=str.lower,  # column names are case-insensitive
        )
    )
    value = st.one_of(st.none(), st.just(sentinel), _text("ab\\N'", max_size=5))
    row = st.tuples(
        value,
        st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
    )
    return fd, ld, sentinel, names, draw(st.lists(row, min_size=1, max_size=4))


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=quoting_cases())
def test_sql_quoting_roundtrip(spark, case):
    """encode -> decode returns its input for delimiters, null sentinels
    and column/header names that need quoting in SQL text, whatever
    spark.sql.parser.escapedStringLiterals is set to."""
    fd, ld, sentinel, names, rows = case
    nulls = [sentinel, "\\N"]
    for s, n, _ in rows:
        wire = [s if s is not None else "\\N", str(n) if n is not None else "\\N"]
        body = fd.join(wire)
        # a value holding a delimiter cannot round-trip by design
        assume(body.split(fd) == wire and ld not in body)
    schema = T.StructType(
        [
            T.StructField(names[0], T.StringType()),
            T.StructField(names[1], T.LongType()),
            T.StructField(names[2], T.IntegerType()),
        ]
    )
    want = sorted(
        ((None if s in nulls else s, n, h) for s, n, h in rows), key=repr
    )
    src = spark.createDataFrame(rows, schema)
    for escaped in ("false", "true"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
        try:
            env = encode_rows(
                src,
                options={
                    "fieldDelimiter": _option(fd),
                    "isDynamicProperty": "true",
                    "dynamicPropertyColumns": names[2],
                },
            )
            back = decode_envelope(
                env,
                schema,
                options={
                    "fieldDelimiter": _option(fd),
                    "lineDelimiter": _option(ld),
                    "nullValues": ",".join(nulls),
                    "headerFields": names[2],
                    "lengthCheck": "EXCEPTION",
                },
            )
            got = sorted((tuple(r) for r in back.collect()), key=repr)
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        assert got == want, escaped
