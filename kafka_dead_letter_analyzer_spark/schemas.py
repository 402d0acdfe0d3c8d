"""Engine-wide StructTypes: the normalized DeadLetter and the input envelope.

Reference schema sites (all under /root/reference/):
- DeadLetter / ErrorDescription: upstream bakdata error-handling Avro schema;
  field set + nullability evidenced by the parser builders
  (StreamsDeadLetterParser.java:79-88, ConnectDeadLetterParser.java:74-90).

Nullability matches SURVEY.md §1.3-1.4: ``description`` and ``cause`` are
required, everything else in DeadLetter is optional. The sink shapes
(sink/*.avsc) are the projections of ``operators/project.py``; their Avro
writer schemas live in ``functions/avro_codec.py``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Core normalized entity (§1.4)
# ---------------------------------------------------------------------------

ERROR_DESCRIPTION = T.StructType(
    [
        T.StructField("error_class", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("stack_trace", T.StringType(), True),
    ]
)

DEAD_LETTER = T.StructType(
    [
        T.StructField("input_value", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("description", T.StringType(), False),
        T.StructField("cause", ERROR_DESCRIPTION, False),
        T.StructField("input_timestamp", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Input envelope: one row per consumed Kafka record (FIXTURES.md §1).
# ``headers`` is an ordered multimap — duplicates allowed, last wins
# (HeaderHelper.java:54-56) — exactly the Kafka source's shape with
# includeHeaders=true.
# ---------------------------------------------------------------------------

HEADER_ENTRY = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.BinaryType(), True),
    ]
)

RAW_ENVELOPE = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("value_deadletter", DEAD_LETTER, True),
        T.StructField("value_text", T.StringType(), True),
        T.StructField("headers", T.ArrayType(HEADER_ENTRY), True),
    ]
)
