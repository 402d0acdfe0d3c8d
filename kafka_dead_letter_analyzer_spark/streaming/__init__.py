"""Structured Streaming layer: the reference's native execution mode.

The batch operators (plans/topology.py) are pure column programs, so they
run unchanged under ``readStream``: ``build_streaming_topology`` is
``build_topology``, and A1's statistics and first examples are the batch
aggregates, run in update mode on the JVM state store. This package adds
only what genuinely differs in streaming:

- ``kafka``: source/sink wiring (subscribePattern, includeHeaders, the S2
  brute-force decode cascade, sink encodings, the E3 error-topic loop).
- ``large_message``: the claim-check serde.
- ``engine``: the one-consumption stateless ``foreachBatch`` query and
  the catalog's stateful streaming extensions.
"""

from kafka_dead_letter_analyzer_spark.streaming.engine import (
    build_streaming_topology,
    start_stateless_outputs,
    streaming_error_statistics_per_record,
    streaming_dedup_records,
    streaming_interval_join,
    streaming_threshold_alerts,
    streaming_topk_types,
    streaming_session_statistics,
    streaming_windowed_statistics,
    streaming_error_statistics_ttl,
)
from kafka_dead_letter_analyzer_spark.streaming.kafka import (
    decode_kafka_records,
    kafka_sink_projection,
    read_dead_letter_stream,
)
from kafka_dead_letter_analyzer_spark.streaming.large_message import (
    claim_check_reads,
    claim_check_writes,
    header_decode,
    header_encode,
    wire_decode,
    wire_encode,
)

__all__ = [
    "claim_check_reads",
    "claim_check_writes",
    "header_decode",
    "header_encode",
    "wire_decode",
    "wire_encode",
    "build_streaming_topology",
    "start_stateless_outputs",
    "streaming_error_statistics_per_record",
    "streaming_dedup_records",
    "streaming_interval_join",
    "streaming_threshold_alerts",
    "streaming_topk_types",
    "streaming_session_statistics",
    "streaming_windowed_statistics",
    "streaming_error_statistics_ttl",
    "decode_kafka_records",
    "kafka_sink_projection",
    "read_dead_letter_stream",
]
