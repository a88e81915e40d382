"""Codec layer: message envelope <-> typed rows, as pure DataFrame ops.

decode_envelope re-expresses the reference's RowDeserializationSchema
(src/main/java/org/apache/rocketmq/flink/source/reader/deserializer/
RowDeserializationSchema.java):

- three body layouts (lines 150-197): single-VARBINARY passthrough,
  all-header-fields, delimited text;
- multi-line bodies: body split on lineDelimiter, each line a row
  (lines 203-246);
- header fields resolved from the user-property bag by column name
  (lines 248-272);
- six dirty-data strategies across format-error / missing-field /
  extra-field classes (lines 284-397), driven by the lengthCheck preset
  (lines 538-569, defaults SKIP/SKIP/CUT at 460-462).

encode_rows re-expresses RocketMQRowDataConverter.convert
(src/main/java/org/apache/rocketmq/flink/sink/table/
RocketMQRowDataConverter.java:107-224): key-column routing, dynamic
tag/property columns (the fork feature), body-column exclusion, delimited
body assembly.

Everything is a built-in Spark SQL expression, so no row takes a Python
hop. Each output column is put together as SQL text (functions.types) and
Spark gets a whole decode in about six `selectExpr`/`where` calls: built
from `F.*`/`Column` calls, one decode made over a thousand Py4J round
trips and took about 0.2 s on the driver, a third of a replay pass.

The decode is not whole-stage codegen'd end to end. Its line Generate,
explode(transform(...)), runs outside codegen because `transform` is a
CodegenFallback; the Filter and Project above it are codegen'd. The
generator stays because it emits each line's fields, so the field split
runs once per line (see decode_envelope).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rocketmq_flink_spark.config import (
    DirtyPolicy,
    normalize_options,
    parse_bool,
    parse_csv,
)
from rocketmq_flink_spark.functions.types import (
    coerce_string,
    sql_ident,
    sql_lit,
    stringify,
)

NULL_SENTINEL = "\\N"


def _unescape(s: str) -> str:
    """Unescape Java-style literals in delimiter options ("\\n", "\\u0001"),
    mirroring StringEscapeUtils.unescapeJava in the reference
    (RowDeserializationSchema.java:103-104). A lone trailing backslash
    is dropped, as unescapeJava drops it."""
    if "\\" not in s:
        return s
    if (len(s) - len(s.rstrip("\\"))) % 2:
        s = s[:-1]
    return s.encode("latin-1", "backslashreplace").decode("unicode_escape")


def _split_regex(delim: str) -> str:
    """SQL literal of the Java regex that splits on `delim` literally."""
    return sql_lit(re.escape(delim))


def _as_struct_type(schema) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


def decode_envelope(
    df: DataFrame,
    schema,
    options: dict | None = None,
    metadata_columns: list[str] | None = None,
) -> DataFrame:
    """Decode an envelope DataFrame (with `value` binary + `props` map
    columns) into typed rows per the declared schema.

    Parameters
    ----------
    df : envelope DataFrame (see schema.ENVELOPE_SCHEMA; only the columns
        actually referenced need to exist).
    schema : StructType or DDL string — the declared physical schema.
    options : connector options (fieldDelimiter, lineDelimiter, encoding,
        lengthCheck, nullValues, headerFields, ...).
    metadata_columns : envelope metadata columns to append after the
        physical columns (reference: SupportsReadingMetadata).
    """
    opts = normalize_options(options or {})
    struct = _as_struct_type(schema)
    policy = DirtyPolicy.from_length_check(opts.get("lengthCheck"))
    header_names = set(parse_csv(opts.get("headerFields")))
    null_values = parse_csv(opts.get("nullValues")) or [NULL_SENTINEL]
    encoding = opts["encoding"]
    field_delim = _unescape(opts["fieldDelimiter"])
    line_delim = _unescape(opts["lineDelimiter"])
    meta = [sql_ident(c) for c in metadata_columns or []]

    header_fields = [f for f in struct.fields if f.name in header_names]
    data_fields = [f for f in struct.fields if f.name not in header_names]

    def header_col(f: T.StructField) -> str:
        raw = f"props[{sql_lit(f.name)}]"
        return f"{coerce_string(raw, f, null_values, encoding)} AS {sql_ident(f.name)}"

    # Layout 1: single VARBINARY data column -> raw body passthrough
    # (RowDeserializationSchema.java:191-197).
    if len(data_fields) == 1 and isinstance(data_fields[0].dataType, T.BinaryType):
        out_cols = [
            f"value AS {sql_ident(f.name)}" if f is data_fields[0] else header_col(f)
            for f in struct.fields
        ]
        return df.selectExpr(*out_cols, *meta)

    # Layout 2: every column is a header field -> row built from props
    # (RowDeserializationSchema.java:168-180).
    if not data_fields:
        return df.selectExpr(*[header_col(f) for f in struct.fields], *meta)

    # Layout 3: delimited text. Split body into lines (multi-line bodies
    # become multiple rows), then each line into fields.
    if field_delim == "" and len(data_fields) > 1:
        # an empty regex would split per CHARACTER — silent garbage for
        # any multi-column schema, so fail loudly instead
        raise ValueError(
            "fieldDelimiter resolved to an empty string but the schema has "
            f"{len(data_fields)} data fields; set a non-empty fieldDelimiter"
        )
    lines = f"split(decode(value, {sql_lit(encoding)}), {_split_regex(line_delim)})"
    # Two deliberate plan choices, each measured ~4x on the round-trip
    # bench:
    # - project ONLY the columns needed after the line explode (props
    #   for header fields, plus requested metadata): Catalyst does not
    #   prune the binary body out of the Generate on its own;
    # - emit (line, fields[]) FROM the generator itself: the dirty-data
    #   Filter references the generator's output, which predicate
    #   pushdown cannot cross, so the field split runs exactly once per
    #   line instead of being re-inlined into every filter condition.
    #   `transform` is a CodegenFallback, so this Generate runs outside
    #   whole-stage codegen. Splitting lines with a plain explode(split)
    #   and fields in a later Project would let PushDownPredicates inline
    #   the field split into every filter term: a replay pass measured
    #   0.622 s that way against 0.542 s with this generator.
    wanted = set(metadata_columns or []) | ({"props"} if header_fields else set())
    carry = [sql_ident(c) for c in df.columns if c in wanted]
    line_fields = (
        f"explode(transform({lines}, x -> struct(x AS line, "
        f"split(x, {_split_regex(field_delim)}) AS fields))) AS _lf"
    )
    exploded = (
        df.selectExpr(*carry, line_fields)
        .where("_lf.line != ''")
        .selectExpr(*carry, "_lf.fields AS _fields")
    )

    n_expected = len(data_fields)
    sentinels = ", ".join(map(sql_lit, null_values))
    typed_cols: dict[str, str] = {}
    err_conds: list[str] = []
    for i, f in enumerate(data_fields):
        raw = f"try_element_at(_fields, {i + 1})"
        typed = coerce_string(raw, f, null_values, encoding)
        typed_cols[f.name] = typed
        if not isinstance(f.dataType, (T.StringType, T.BinaryType)):
            err_conds.append(
                f"({raw} IS NOT NULL AND NOT ({raw} IN ({sentinels})) "
                f"AND ({typed}) IS NULL)"
            )

    # Stage typed values AND policy flags in ONE projection, then filter
    # on the boolean flag columns. Putting the raw coercion expressions
    # in the Filter itself would evaluate every coercion (timestamp
    # parses especially) once for the predicate and again for the
    # projection — measured ~4x slower on the round-trip bench.
    stage_cols = [
        header_col(f)
        if f.name in header_names
        else f"{typed_cols[f.name]} AS {sql_ident(f.name)}"
        for f in struct.fields
    ]
    flag_cols = [
        f"size(_fields) < {n_expected} AS _err_missing",
        f"size(_fields) > {n_expected} AS _err_extra",
        f"{' OR '.join(err_conds) or 'false'} AS _err_format",
    ]
    staged = exploded.selectExpr(*stage_cols, *flag_cols, *meta)

    filters: list[str] = []
    if policy.on_missing in ("SKIP", "SKIP_SILENT"):
        filters.append("NOT _err_missing")
    if policy.on_extra in ("SKIP", "SKIP_SILENT"):
        filters.append("NOT _err_extra")
    if policy.on_format_error in ("SKIP", "SKIP_SILENT") and err_conds:
        filters.append("NOT _err_format")

    exception_wraps: list[tuple[str, str]] = []
    if policy.on_missing == "EXCEPTION":
        exception_wraps.append(("_err_missing", "row has fewer fields than schema"))
    if policy.on_extra == "EXCEPTION":
        exception_wraps.append(("_err_extra", "row has more fields than schema"))
    if policy.on_format_error == "EXCEPTION" and err_conds:
        exception_wraps.append(("_err_format", "unparseable field value"))

    out_cols = []
    for f in struct.fields:
        col = sql_ident(f.name)
        if f.name not in header_names:
            # EXCEPTION policies fold the raise into every projected data
            # column so the check is evaluated wherever the row is.
            for cond, msg in exception_wraps:
                col = (
                    f"CASE WHEN {cond} THEN CAST(raise_error({sql_lit(msg)}) "
                    f"AS {f.dataType.simpleString()}) ELSE {col} END"
                )
        out_cols.append(f"{col} AS {sql_ident(f.name)}")

    result = staged.where(" AND ".join(filters)) if filters else staged
    return result.selectExpr(*out_cols, *meta)


def encode_rows(
    df: DataFrame,
    options: dict | None = None,
    born_ts_col: str | None = None,
    topic_col: Column | str | None = None,
) -> DataFrame:
    """Encode typed rows into the message envelope for the sink.

    Column routing per RocketMQRowDataConverter:
    - key columns -> `keys` (comma-joined), excluded from the body unless
      writeKeysToBody (lines 112-124);
    - dynamic tag column -> `tags`, excluded unless
      dynamicTagColumnWriteIncluded (lines 125-135);
    - dynamic property columns -> `props` map, always excluded from the
      body (fork feature, lines 139-152 and 190-200);
    - body = remaining columns stringified and joined by fieldDelimiter,
      encoded with `encoding` (lines 207-217). NULLs are written as the
      null sentinel so field positions survive the round trip.

    `topic_col` is the TopicSelector surface (legacy/common/selector/
    TopicSelector.java:21-26): a per-row topic expression — see
    functions.selectors for the Default/Simple selector equivalents. The
    multi-topic sink routes each row to its envelope topic.
    """
    opts = normalize_options(options or {})
    field_delim = _unescape(opts["fieldDelimiter"])
    encoding = opts["encoding"]
    key_columns = parse_csv(opts.get("keyColumns"))
    write_keys_to_body = parse_bool(opts.get("writeKeysToBody"))
    dynamic_tag = parse_bool(opts.get("isDynamicTag"))
    tag_col = opts.get("dynamicTagColumn")
    tag_included = parse_bool(opts.get("dynamicTagColumnWriteIncluded"))
    dynamic_props = parse_bool(opts.get("isDynamicProperty"))
    prop_columns = parse_csv(opts.get("dynamicPropertyColumns"))
    static_tag = opts.get("tag")
    if static_tag == "*":  # '*' is a subscription wildcard, not a message tag
        static_tag = None

    schema = df.schema
    fields_by_name = {f.name: f for f in schema.fields}

    excluded: set[str] = set()
    if key_columns and not write_keys_to_body:
        excluded |= set(key_columns)
    if dynamic_tag and tag_col and not tag_included:
        excluded.add(tag_col)
    if dynamic_props:
        excluded |= set(prop_columns)

    body_fields = [f for f in schema.fields if f.name not in excluded]
    if field_delim == "" and len(body_fields) > 1:
        raise ValueError(
            "fieldDelimiter resolved to an empty string but the body has "
            f"{len(body_fields)} columns; the encoded row could never be "
            "split back — set a non-empty fieldDelimiter"
        )

    def wire(f: T.StructField) -> str:
        return f"coalesce({stringify(sql_ident(f.name), f)}, {sql_lit(NULL_SENTINEL)})"

    def as_string(name: str) -> str:
        return f"CAST({sql_ident(name)} AS STRING)"

    null_string = "CAST(NULL AS STRING)"
    body = ", ".join([sql_lit(field_delim), *map(wire, body_fields)])
    value = f"encode(concat_ws({body}), {sql_lit(encoding)})"
    if key_columns:
        keys = f"concat_ws(',', {', '.join(wire(fields_by_name[c]) for c in key_columns)})"
    else:
        keys = null_string
    if dynamic_tag and tag_col:
        tags = as_string(tag_col)
    elif static_tag:
        tags = sql_lit(static_tag)
    else:
        tags = null_string
    if dynamic_props and prop_columns:
        props = (
            f"map_from_arrays(array({', '.join(map(sql_lit, prop_columns))}), "
            f"array({', '.join(map(as_string, prop_columns))}))"
        )
    else:
        props = "CAST(NULL AS MAP<STRING, STRING>)"
    born_ts = (
        f"CAST({sql_ident(born_ts_col)} AS TIMESTAMP)"
        if born_ts_col
        else "current_timestamp()"
    )
    rest = [
        f"{keys} AS keys",
        f"{tags} AS tags",
        f"{props} AS props",
        f"{value} AS value",
        f"{born_ts} AS born_ts",
    ]
    if isinstance(topic_col, Column):
        # selectors return Columns; the rest stays SQL text
        return df.select(
            topic_col.cast(T.StringType()).alias("topic"), *map(F.expr, rest)
        )
    if topic_col is not None:
        topic = as_string(topic_col)
    else:
        topic = sql_lit(opts.get("topic", ""))
    return df.selectExpr(f"{topic} AS topic", *rest)


def decode_simple_key_value(
    df: DataFrame,
    key_field: str = "key",
    value_field: str = "value",
    encoding: str = "UTF-8",
) -> DataFrame:
    """SimpleKeyValueDeserializationSchema (D7): message keys + UTF-8
    body as two string columns
    (legacy/common/serialization/SimpleKeyValueDeserializationSchema.java:25-66).
    The tuple variant (D8, SimpleTupleDeserializationSchema.java:26-40)
    is the same projection with positional names."""
    return df.select(
        F.col("keys").alias(key_field),
        F.decode(F.col("value"), encoding).alias(value_field),
    )


def encode_simple_key_value(
    df: DataFrame,
    key_field: str = "key",
    value_field: str = "value",
    encoding: str = "UTF-8",
) -> DataFrame:
    """SimpleKeyValueSerializationSchema (D9): two string columns back to
    the envelope (keys + encoded body); deserialize∘serialize = identity
    (the reference's SimpleKeyValueSerializationSchemaTest)."""
    return df.select(
        F.col(key_field).cast(T.StringType()).alias("keys"),
        F.lit(None).cast(T.StringType()).alias("tags"),
        F.lit(None).cast(T.MapType(T.StringType(), T.StringType())).alias("props"),
        F.encode(F.col(value_field).cast(T.StringType()), encoding).alias("value"),
        F.current_timestamp().alias("born_ts"),
    )
