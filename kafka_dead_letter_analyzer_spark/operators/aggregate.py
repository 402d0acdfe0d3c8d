"""The stateful aggregation (operator A1): running stats + first example
per ``ErrorKey{topic, type}``.

Reference: ErrorAggregatingProcessor.java:38-102 — per key keep
``{count, created=min(ts), updated=max(ts)}`` over the *Context* timestamp
(:67-74), merging on every record (:51-57); emit the full example record only
for the key's **first** occurrence (:59-65, Result.java:39-41).

Spark mapping (SURVEY.md §2.8):
- stats: a plain ``groupBy(topic, type).agg(...)`` — Catalyst plans the
  hash-partition Exchange that the reference hand-builds as its repartition
  topic (R1, DeadLetterAnalyzerTopology.java:194-197), with map-side partial
  aggregation the reference doesn't have. At 100 TB this is the right shape:
  partial_count/min/max collapse each map partition to |keys| rows before
  the shuffle.
- first example: one operator for both modes, ``min_by`` over the
  ordering key ``(batch timestamp, context.timestamp, context.offset)``,
  keeping only the keys whose winning row came in the current batch. In a
  batch query the batch timestamp is one constant, so the order is
  ``(ts, offset)`` (documented refinement of the reference's arrival order,
  SURVEY.md §7.4). In a micro-batch it is the batch's own time: across
  batches the first arrival wins, within one the least ``(ts, offset)``,
  and each key is emitted once. ``min_by`` rather than a window: one
  shuffle with partial aggregation instead of a full partition-sort, which
  matters at scale (no per-group sort, no skew amplification from big
  groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def error_statistics(enriched: DataFrame) -> DataFrame:
    """Final per-(topic, type) stats: count / created=min / updated=max.

    Batch emits finals; streaming runs the same plan in update mode
    (the reference emits per-record updates consumed as upserts,
    README.md:116 — last value per key is what downstream keeps).
    """
    return (
        enriched.groupBy(
            F.col("error_key.topic").alias("topic"),
            F.col("error_key.type").alias("type"),
        ).agg(
            F.count(F.lit(1)).cast("int").alias("count"),
            F.min("context.timestamp").alias("created"),
            F.max("context.timestamp").alias("updated"),
        )
    )


def first_examples(enriched: DataFrame) -> DataFrame:
    """First record per (topic, type) — A1's example side
    (ErrorAggregatingProcessor.java:59-65) — in batch and stream alike.

    ``min_by`` orders by ``(batch timestamp, ts, offset)`` and only keys
    whose winner came in the current batch are kept. ``current_timestamp()``
    is projected into a column before the ``groupBy``: a streaming query
    turns it into the non-deterministic ``current_batch_timestamp()``,
    which Spark rejects inside an aggregate's arguments. A batch
    query sees one constant, so it emits every key's least ``(ts, offset)``
    row. A micro-batch sees its own batch time (restored from the offset
    log on restart), so a key's state keeps its first-arrival row and the
    key is emitted once, in the batch where it first appears; this relies
    on batch timestamps rising from one micro-batch to the next.

    The streaming state is one example payload per key in the JVM state
    store, bounded by error-type cardinality. It is not the state of the
    earlier Python state machine (a per-key ``seen`` flag): a streaming
    deployment must start ``<checkpoint>/examples`` fresh. Given the old
    checkpoint, Spark 4.1 fails the query on its first micro-batch with
    ``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``; nothing
    is emitted from the old state.
    """
    batch_ts = "_batch_ts"
    order_key = F.struct(
        F.col(batch_ts),
        F.col("context.timestamp").alias("ts"),
        F.col("context.offset").alias("offset"),
    )
    payload = F.struct(
        F.col(batch_ts),
        F.col("context").alias("context"),
        F.col("dead_letter").alias("dead_letter"),
    )
    return (
        enriched.withColumn(batch_ts, F.current_timestamp())
        .groupBy(
            F.col("error_key.topic").alias("topic"),
            F.col("error_key.type").alias("type"),
        )
        .agg(F.min_by(payload, order_key).alias("example"))
        .filter(F.col(f"example.{batch_ts}") == F.current_timestamp())
        .select(
            "topic",
            "type",
            F.col("example.context").alias("context"),
            F.col("example.dead_letter").alias("dead_letter"),
        )
    )


def error_statistics_salted(enriched: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """A1 stats with explicit key salting — the skew-mitigation variant.

    A single exploding error type (the realistic hot key: one bug storm)
    funnels every row through one reducer in the plain groupBy. Salting
    splits the hot key across ``salt_buckets`` partial aggregates and
    re-combines: count is summed; created/updated are min/max of partials
    (all three are associative, so the two-phase result is EXACTLY the
    one-phase result — verified by test against :func:`error_statistics`).

    AQE's skew handling covers joins but not aggregation hot keys; partial
    (map-side) aggregation usually absorbs them, but when one key's
    post-combine volume still dominates (many distinct map partitions, one
    reducer), this is the standard fix. Cost: one extra (tiny) shuffle over
    |keys| x salt_buckets rows.
    """
    salted = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.col("context.timestamp").alias("ts"),
        (F.spark_partition_id() % salt_buckets).alias("_salt"),
    )
    partial = salted.groupBy("topic", "type", "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min("ts").alias("_min"),
        F.max("ts").alias("_max"),
    )
    return partial.groupBy("topic", "type").agg(
        F.sum("_cnt").cast("int").alias("count"),
        F.min("_min").alias("created"),
        F.max("_max").alias("updated"),
    )
