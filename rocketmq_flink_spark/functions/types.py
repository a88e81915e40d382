"""String -> typed-value coercion matrix, as Spark SQL expression text.

Re-expresses the reference's StringSerializer.deserialize
(src/main/java/org/apache/rocketmq/flink/source/util/StringSerializer.java:
41-135) as Catalyst expressions:

- numeric parseX           -> digit check, then try_cast
- boolean true/false/1/0   -> explicit CASE chain (lines 137-153)
- TIMESTAMP epoch-millis OR text (lines 87-99) -> regex dispatch
- DATE yyyy-MM-dd (100-107) -> try_to_timestamp, cast to DATE
- TIME epoch-millis-of-day (108-115) -> long, or HH:mm:ss text
- DECIMAL precision/scale (116-123) -> try_cast to DecimalType(p, s)
- VARBINARY raw bytes (59-70)       -> encode(value, charset)
- null-sentinel set (55-57)         -> IN -> NULL

The functions build SQL text, not Columns: the codec hands a whole decode
to Spark in a few `selectExpr`/`where` calls. Every `F.*`/`Column` call
costs several Py4J round trips in PySpark, and a wide schema needs
hundreds of them. The expressions are the same built-ins either way:
they run JVM-side with no Python UDF, in the codegen'd Project and Filter
above the codec's line Generate.

`sql_lit` and `sql_ident` are the only way user text (delimiters, null
sentinels, header and column names) enters that SQL.
"""

from __future__ import annotations

from pyspark.sql import types as T

from rocketmq_flink_spark.schema import is_time_field

# Integer.parseInt's accepted shape. [0-9] rather than \d keeps the
# literal free of backslashes (see sql_lit).
_INT_RE = "^[+-]?[0-9]+$"


def sql_lit(s: str) -> str:
    """A SQL string literal that reads as `s` whatever
    spark.sql.parser.escapedStringLiterals is set to: text holding a
    backslash or a quote goes in as UTF-8 hex, which constant folding
    turns back into a plain literal."""
    if "\\" in s or "'" in s:
        return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"
    return f"'{s}'"


def sql_ident(name: str) -> str:
    """A backtick-quoted identifier; a backtick in the name is doubled."""
    return "`" + name.replace("`", "``") + "`"


def _nullify(raw: str, null_values: list[str]) -> str:
    cond = f"{raw} IS NULL"
    if null_values:
        cond += f" OR {raw} IN ({', '.join(map(sql_lit, null_values))})"
    return f"CASE WHEN {cond} THEN CAST(NULL AS STRING) ELSE {raw} END"


def coerce_string(
    raw: str,
    field: T.StructField,
    null_values: list[str] | None = None,
    encoding: str = "UTF-8",
) -> str:
    """SQL text coercing the string expression `raw` to the field's type.

    Evaluates to NULL on unparseable input, an out-of-range integer
    included (the caller's dirty-data policy decides whether that nulls
    the field, drops the row, or raises).
    """
    null_values = null_values if null_values is not None else ["\\N"]
    r = _nullify(raw, null_values)
    dt = field.dataType
    is_int = f"{r} RLIKE '{_INT_RE}'"

    if is_time_field(field):
        # TIME: epoch millis-of-day, or HH:mm:ss[.SSS] text.
        as_text = f"try_to_timestamp(concat('1970-01-01 ', {r}))"
        return (
            f"CASE WHEN {is_int} THEN TRY_CAST({r} AS BIGINT) "
            f"ELSE CAST(unix_micros({as_text}) / 1000 AS BIGINT) END"
        )
    if isinstance(dt, T.StringType):
        return r
    if isinstance(dt, T.BooleanType):
        lowered = f"lower(trim({r}))"
        return (
            f"CASE WHEN {lowered} IN ('true', '1') THEN true "
            f"WHEN {lowered} IN ('false', '0') THEN false "
            "ELSE CAST(NULL AS BOOLEAN) END"
        )
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # try_cast behind the digit check: an out-of-range value is a
        # format error (Integer.parseInt throws), not a failed query.
        sql_type = dt.simpleString()
        return (
            f"CASE WHEN {is_int} THEN TRY_CAST({r} AS {sql_type}) "
            f"ELSE CAST(NULL AS {sql_type}) END"
        )
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        # try_cast: unparseable -> NULL (ANSI mode is on in Spark 4; the
        # dirty-data policy decides what happens to the NULL).
        return f"TRY_CAST({r} AS {dt.simpleString()})"
    if isinstance(dt, T.DateType):
        return f"CAST(try_to_timestamp({r}, 'yyyy-MM-dd') AS DATE)"
    if isinstance(dt, T.TimestampType):
        # Epoch-millis integer or timestamp text (dual format, ref lines
        # 87-99). Millis whose micros overflow a long decode as NULL.
        micros = f"try_multiply(TRY_CAST({r} AS BIGINT), 1000)"
        return (
            f"CASE WHEN {is_int} THEN timestamp_micros({micros}) "
            f"ELSE try_to_timestamp({r}) END"
        )
    if isinstance(dt, T.BinaryType):
        return f"encode({r}, {sql_lit(encoding)})"
    raise TypeError(f"unsupported declared type for codec: {dt}")


def stringify(col: str, field: T.StructField) -> str:
    """SQL text turning the typed expression `col` into its wire string,
    the inverse of coerce_string.

    Timestamps are written as ISO text with microseconds (the decoder's
    dual-format TIMESTAMP parse accepts text alongside epoch millis,
    reference StringSerializer.java:87-99) so encode -> decode round-trips
    losslessly; TIME is millis-of-day.
    """
    dt = field.dataType
    if is_time_field(field):
        return f"CAST({col} AS STRING)"
    if isinstance(dt, T.TimestampType):
        return f"date_format({col}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    if isinstance(dt, T.DateType):
        return f"date_format({col}, 'yyyy-MM-dd')"
    if isinstance(dt, T.BinaryType):
        return f"decode({col}, 'UTF-8')"
    return f"CAST({col} AS STRING)"
