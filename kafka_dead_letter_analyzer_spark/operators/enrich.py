"""Context enrichment + error-type classification (operator N1).

Reference: ContextEnricher.java:35-79 — attach the consumer-side message
context (stringified key, offset, partition, record timestamp) to every
normalized DeadLetter, and compute the aggregation key
``ErrorKey{topic: consumer topic, type: classify(stack_trace)}``.

Failure semantics preserved: a DeadLetter whose ``cause.stack_trace`` is
NULL cannot be classified — ``orElseThrow()`` raises
NoSuchElementException("No value present") (ContextEnricher.java:39), which
the topology captures into the error channel with description
"Error analyzing dead letter" (DeadLetterAnalyzerTopology.java:120).

In Spark the Kafka source already exposes topic/partition/offset/timestamp
as columns, so enrichment is a plain projection — no processor API needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_dead_letter_analyzer_spark.functions.classify import classify_stack_trace
from kafka_dead_letter_analyzer_spark.operators.errors import (
    NO_SUCH_ELEMENT,
    capture,
    raise_when,
)


def missing_stack_trace(stack_trace: Column) -> Column:
    """N1's one failure: an unclassifiable (NULL) stack trace raises
    NoSuchElementException("No value present") (ContextEnricher.java:39)."""
    return raise_when(stack_trace.isNull(), NO_SUCH_ELEMENT, "No value present")


def enrich_with_context(dead_letters: DataFrame) -> DataFrame:
    """rows(topic, partition, offset, timestamp, key, dead_letter)
    -> + context struct, error_key struct, E1 error channel.

    Column contract: input columns are the consumer-side record metadata
    (envelope columns), ``dead_letter`` is the normalized struct.
    """
    stack_trace = F.col("dead_letter.cause.stack_trace")
    error = missing_stack_trace(stack_trace)
    context = F.struct(
        F.col("key").cast("string").alias("key"),
        F.col("offset").cast("long").alias("offset"),
        F.col("partition").cast("int").alias("partition"),
        F.col("timestamp").alias("timestamp"),
    )
    error_key = F.struct(
        F.col("topic").alias("topic"),
        classify_stack_trace(stack_trace).alias("type"),
    )
    out = dead_letters.withColumns(
        {"context": context, "error_key": error_key}
    )
    return capture(out, error)
