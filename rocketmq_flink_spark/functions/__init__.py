"""Scalar/codec function layer (the connector's "functions" surface).

All implemented as built-in Spark SQL expressions, so the decode/encode
hot path has no Python UDF. The codec's line Generate runs outside
whole-stage codegen (`transform` is a CodegenFallback); the Filter and
Project around it are codegen'd (see functions.codec).
"""

from rocketmq_flink_spark.functions.binary import (  # noqa: F401
    decode_fixed_width,
    encode_fixed_width,
)
from rocketmq_flink_spark.functions.codec import (  # noqa: F401
    decode_envelope,
    decode_simple_key_value,
    encode_rows,
    encode_simple_key_value,
)
from rocketmq_flink_spark.functions.selectors import (  # noqa: F401
    default_tag_selector,
    default_topic_selector,
    simple_tag_selector,
    simple_topic_selector,
)
from rocketmq_flink_spark.functions.types import coerce_string  # noqa: F401
from rocketmq_flink_spark.functions.registry import (  # noqa: F401
    MessageCodec,
    decode_with,
    encode_with,
    get_codec,
    register_codec,
    registered_codecs,
)
