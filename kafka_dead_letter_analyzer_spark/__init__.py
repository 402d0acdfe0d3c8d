"""PySpark-native dead-letter analytics engine.

A from-scratch re-expression of the query + data-processing capabilities of
bakdata/kafka-dead-letter-analyzer (reference: a Kafka Streams topology,
/root/reference/src/main/java/com/bakdata/kafka/DeadLetterAnalyzerTopology.java:139-158)
as an idiomatic Spark DataFrame / Structured Streaming library, extended with
the LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) that a 100 TB training-data pipeline needs.

Design stance (SURVEY.md §7.1): batch-first core — every operator is a pure
``DataFrame -> DataFrame`` function built from stock column expressions, so
the identical dataflow runs over parquet tables (the driver's correctness
harness) and over a Kafka stream (``readStream`` + update-mode aggregation).
"""

from kafka_dead_letter_analyzer_spark.session import get_spark


def build_topology(raw):
    """Batch topology over a RAW_ENVELOPE frame (lazy import façade)."""
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        build_topology as _bt,
    )

    return _bt(raw)


# one wiring for batch and ``readStream`` frames
build_streaming_topology = build_topology


__all__ = ["get_spark", "build_topology", "build_streaming_topology"]
__version__ = "0.1.0"
