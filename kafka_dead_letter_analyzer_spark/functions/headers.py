"""Kafka record-header access (operator P4) + dialect header constants.

Reference: HeaderHelper.java:36-64 —

- ``lastHeader(key)``: the header array is an ordered multimap; the *last*
  occurrence of a key wins (HeaderHelper.java:54-56).
- bytes -> UTF-8 string -> int/long parse (HeaderHelper.java:36-52);
- a present header with a NULL value fails int/long parses with
  ``"Cannot parse int from null"`` / ``"Cannot parse long from null"``;
- a *missing* required header fails with
  ``"Missing required header %s"`` (HeaderHelper.java:58-60).

Spark shape: the Kafka source (``includeHeaders=true``) yields
``headers: array<struct<key:string, value:binary>>``. We collapse it once
per record into ``map<string, binary>`` with ``map_from_entries`` under
``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set in session.py) — exactly
last-wins, fully JVM-side. Presence and null-ness are then distinguishable
via ``map_contains_key`` vs a NULL map value; the parsers
(``operators/parsers.py``) build the int/long parses and their error
messages from ``has_header`` and ``header_string``.

Header-name constants: the reference imports these from public libraries —
Apache Kafka Connect's DeadLetterQueueReporter (``__connect.errors.*``,
ConnectDeadLetterParser.java:29-38), Kafka Streams' ExceptionHandlerUtils
(KIP-1034, NativeStreamsDeadLetterParser.java:31-36), and bakdata
error-handling's ErrorHeaderProcessor (``__streams.errors.*``,
StreamsDeadLetterParser.java:27-33). Names are centralized here per
FIXTURES.md §3.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- bakdata-Streams dialect (ErrorHeaderProcessor.*, error-handling lib) ---
STREAMS_PREFIX = "__streams.errors."
STREAMS_TOPIC = STREAMS_PREFIX + "topic"
STREAMS_PARTITION = STREAMS_PREFIX + "partition"
STREAMS_OFFSET = STREAMS_PREFIX + "offset"
STREAMS_DESCRIPTION = STREAMS_PREFIX + "description"
STREAMS_EXCEPTION_CLASS_NAME = STREAMS_PREFIX + "exception.class.name"
STREAMS_EXCEPTION_MESSAGE = STREAMS_PREFIX + "exception.message"
STREAMS_EXCEPTION_STACK_TRACE = STREAMS_PREFIX + "exception.stack_trace"
# Literal faulty legacy header accepted as offset fallback
# (StreamsDeadLetterParser.java:46,57-60) — the string is verbatim.
STREAMS_FAULTY_OFFSET = "HEADER_PREFIX + offset"

# --- Kafka Connect DLQ dialect (DeadLetterQueueReporter.*, Apache Kafka) ---
CONNECT_PREFIX = "__connect.errors."
CONNECT_ORIG_TOPIC = CONNECT_PREFIX + "topic"
CONNECT_ORIG_PARTITION = CONNECT_PREFIX + "partition"
CONNECT_ORIG_OFFSET = CONNECT_PREFIX + "offset"
CONNECT_CONNECTOR_NAME = CONNECT_PREFIX + "connector.name"
CONNECT_TASK_ID = CONNECT_PREFIX + "task.id"
CONNECT_STAGE = CONNECT_PREFIX + "stage"
CONNECT_EXECUTING_CLASS = CONNECT_PREFIX + "class.name"
CONNECT_EXCEPTION = CONNECT_PREFIX + "exception.class.name"
CONNECT_EXCEPTION_MESSAGE = CONNECT_PREFIX + "exception.message"
CONNECT_EXCEPTION_STACK_TRACE = CONNECT_PREFIX + "exception.stacktrace"

# --- Native Streams DLQ dialect (ExceptionHandlerUtils.*, KIP-1034) ---
NATIVE_PREFIX = "__streams.errors."
NATIVE_EXCEPTION = NATIVE_PREFIX + "exception"
NATIVE_EXCEPTION_MESSAGE = NATIVE_PREFIX + "exception_message"
NATIVE_STACKTRACE = NATIVE_PREFIX + "stacktrace"
NATIVE_TOPIC = NATIVE_PREFIX + "topic"
NATIVE_PARTITION = NATIVE_PREFIX + "partition"
NATIVE_OFFSET = NATIVE_PREFIX + "offset"
# bakdata FilteringProcessingExceptionHandler additions
# (NativeStreamsDeadLetterParser.java:27-28)
NATIVE_PROCESSOR_NODE_ID = NATIVE_PREFIX + "processor_node_id"
NATIVE_TASK_ID = NATIVE_PREFIX + "task_id"


def headers_to_map(headers: Column | str) -> Column:
    """array<struct<key,value>> -> map<string,binary>, last occurrence wins.

    Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (session.py); this is
    the engine's single collapse point for the header multimap
    (HeaderHelper.java:54-56 semantics).
    """
    h = F.col(headers) if isinstance(headers, str) else headers
    return F.map_from_entries(F.coalesce(h, F.array()))


def has_header(hmap: Column, name: str) -> Column:
    """Header-presence predicate (HeaderFilter.java:56-64): key exists,
    regardless of value null-ness."""
    return F.map_contains_key(hmap, F.lit(name))


def header_string(hmap: Column, name: str) -> Column:
    """lastHeader(name) bytes -> UTF-8 string; NULL if absent or null-valued
    (HeaderHelper.java:36-44)."""
    return hmap.getItem(name).cast("string")
