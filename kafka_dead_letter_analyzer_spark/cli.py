"""Application harness — the reference's CLI surface on Spark.

Reference startup path (SURVEY.md §3.1): picocli flags ``--brokers
--schema-registry-url --input-pattern --output-topic --extra-output-topics
stats=...,examples=... --error-topic`` -> build topology -> start
(DeadLetterAnalyzerApplication.java:43-71, README.md:32-41). This module
reproduces that surface:

- **streaming** (default): Kafka pattern source -> the batch topology (one
  wiring for both modes) -> four Kafka sinks; the error topic must match the
  input pattern so the E3 loop closes through the broker. App id
  ``dead-letter-analyzer-<output topic>`` becomes the checkpoint namespace
  + query-name prefix, exactly the reference's app-id derivation
  (DeadLetterAnalyzerApplication.java:69-71).
- **batch**: the same topology over a RAW_ENVELOPE parquet directory,
  writing the four outputs as parquet — the harness this repo's driver and
  tests exercise.

``--schema-registry-url`` is parsed for CLI compatibility and ignored:
the S2 cascade decodes Confluent-framed Avro without a registry, with the
engine's own Python codec (``functions/avro_codec.py``).
The large-message serde (claim-check pattern + bakdata byte-flag wire
protocol) lives in ``streaming/large_message.py`` — apply ``wire_decode``
after the S2 cascade when input topics carry large-message-encoded values.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field


@dataclass
class AnalyzerConfig:
    brokers: str | None = None
    input_pattern: str = ".*-dead-letters"
    output_topic: str = "analyzed"
    error_topic: str = "analyzer-dead-letters"
    extra_output_topics: dict[str, str] = field(default_factory=dict)
    checkpoint_dir: str = "/tmp/dead-letter-analyzer-checkpoints"
    batch_input: str | None = None
    batch_output: str | None = None
    rocksdb_state_store: bool = False  # reference store choice (Topology.java:220-226)
    drift_report: bool = False  # batch: also write the per-key drift report

    @property
    def app_id(self) -> str:
        return f"dead-letter-analyzer-{self.output_topic}"

    @property
    def stats_topic(self) -> str:
        return self.extra_output_topics.get("stats", f"{self.output_topic}-stats")

    @property
    def examples_topic(self) -> str:
        return self.extra_output_topics.get(
            "examples", f"{self.output_topic}-examples"
        )


def parse_args(argv: list[str] | None = None) -> AnalyzerConfig:
    p = argparse.ArgumentParser(
        prog="kafka-dead-letter-analyzer-spark",
        description="Analyze dead letters from Kafka topics (streaming) or "
        "a RAW_ENVELOPE parquet directory (batch).",
    )
    p.add_argument("--brokers", help="Kafka bootstrap servers")
    p.add_argument("--input-pattern", default=".*-dead-letters")
    p.add_argument("--output-topic", default="analyzed")
    p.add_argument("--error-topic", default="analyzer-dead-letters")
    p.add_argument(
        "--extra-output-topics",
        default="",
        help="label=topic pairs, comma separated (labels: stats, examples)",
    )
    p.add_argument(
        "--schema-registry-url",
        help="ignored; accepted for parity with the reference CLI (Avro "
        "is decoded without a registry)",
    )
    p.add_argument("--checkpoint-dir", default="/tmp/dead-letter-analyzer-checkpoints")
    p.add_argument("--batch-input", help="RAW_ENVELOPE parquet dir (batch mode)")
    p.add_argument("--batch-output", help="output dir for batch mode")
    p.add_argument(
        "--drift-report",
        action="store_true",
        help="batch mode: also write a per-(topic, type) drift report "
        "(CUSUM change-point, Theil-Sen trend, Mann-Kendall test, "
        "Hampel outlier days) over the normalized dead-letter feed",
    )
    p.add_argument(
        "--rocksdb-state-store",
        action="store_true",
        help="use the RocksDB streaming state store (the reference's store; "
        "recommended for large per-error-type state)",
    )
    a = p.parse_args(argv)

    extra = {}
    for pair in filter(None, a.extra_output_topics.split(",")):
        label, eq, topic = (part.strip() for part in pair.partition("="))
        if not (eq and label and topic):
            p.error(
                f"--extra-output-topics: {pair!r} is not a label=topic pair"
            )
        extra[label] = topic
    return AnalyzerConfig(
        brokers=a.brokers,
        input_pattern=a.input_pattern,
        output_topic=a.output_topic,
        error_topic=a.error_topic,
        extra_output_topics=extra,
        checkpoint_dir=a.checkpoint_dir,
        batch_input=a.batch_input,
        batch_output=a.batch_output,
        drift_report=a.drift_report,
        rocksdb_state_store=a.rocksdb_state_store,
    )


def run_batch(spark, config: AnalyzerConfig) -> dict[str, str]:
    """Batch mode: RAW_ENVELOPE parquet in -> four parquet outputs, plus
    the drift report with ``config.drift_report``.

    Output layout: ``<batch_output>/{full,stats,examples,errors,drift}``.
    ``build_topology`` wires the outputs once; each sink's write then runs
    as its own Spark job from one driver thread per sink, so the writes
    overlap instead of queueing behind each other's fixed latency. Every
    thread inherits the caller's local properties (job group included)
    and session tags, and names its jobs ``run_batch: <sink>``. The drift
    report reads the in-memory ``full_dead_letters`` frame, not the
    written ``full`` parquet, so it does not wait for that write.

    Waits for every write, then re-raises the first failure in the order
    full, stats, examples, errors, drift. Returns the written paths in
    that order.
    """
    from concurrent.futures import ThreadPoolExecutor
    from functools import partial

    from pyspark import inheritable_thread_target

    from kafka_dead_letter_analyzer_spark.plans.topology import build_topology
    from kafka_dead_letter_analyzer_spark.schemas import RAW_ENVELOPE
    from kafka_dead_letter_analyzer_spark.sources.batch import _ensure_engine_confs

    _ensure_engine_confs(spark)
    raw = spark.read.schema(RAW_ENVELOPE).parquet(config.batch_input)
    out = build_topology(raw)
    writes = {
        name: df.write.mode("overwrite").parquet
        for name, df in (
            ("full", out.full_dead_letters),
            ("stats", out.error_statistics),
            ("examples", out.error_examples),
            ("errors", out.error_topic),
        )
    }
    if config.drift_report:
        writes["drift"] = partial(_write_drift_report, out.full_dead_letters)
    paths = {name: f"{config.batch_output}/{name}" for name in writes}

    def job(name: str) -> None:
        spark.sparkContext.setJobDescription(f"run_batch: {name}")
        writes[name](paths[name])

    def inheriting(fn):
        # one wrapper per job: each clones the caller's local properties,
        # and threads sharing one clone would share one SQL execution id.
        # Outside PySpark's pinned-thread mode there is nothing to inherit
        # and the factory hands the session back instead of a wrapper.
        wrap = inheritable_thread_target(spark)
        return fn if wrap is spark else wrap(fn)

    with ThreadPoolExecutor(len(writes)) as pool:
        jobs = [pool.submit(inheriting(job), name) for name in writes]
    for j in jobs:
        j.result()
    return paths


def _write_drift_report(full, path: str) -> None:
    """The per-(topic, type) drift report over the normalized feed."""
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.functions.formatting import TS_PATTERN
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        _report_counts,
        bucket_counts,
        dead_letter_drift_report,
    )

    # the full sink carries the reference's FORMATTED timestamp — parse
    # it back once for the detectors
    feed = full.withColumn("event_ts", F.to_timestamp("timestamp", TS_PATTERN))
    groups = ["topic", "type"]
    # the report's one contraction: the bucket pick's span collect fills
    # the cache, then the kernel pass reads it (re-keyed to days when the
    # span overflows hour buckets); released once the report is written
    # so a long session keeps no cached frame per job
    hours = bucket_counts(
        feed, ts_col="event_ts", group_cols=groups, bucket="hour"
    ).persist()
    try:
        bucket, counts = _report_counts(hours, groups)
        dead_letter_drift_report(
            feed, ts_col="event_ts", group_cols=groups, bucket=bucket,
            counts_df=counts,
        ).write.mode("overwrite").parquet(path)
    finally:
        hours.unpersist()


def run_streaming(spark, config: AnalyzerConfig) -> list:
    """Streaming mode: start the four queries; returns their handles.

    The caller owns the lifecycle (``awaitAnyTermination`` for a service).
    If one query fails to start, the ones already started are stopped
    before the error propagates.
    """
    from kafka_dead_letter_analyzer_spark.plans.topology import build_topology
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        read_dead_letter_stream,
        write_stream_to_kafka,
    )

    raw = read_dead_letter_stream(spark, config.brokers, config.input_pattern)
    topo = build_topology(raw)
    ck = f"{config.checkpoint_dir}/{config.app_id}"
    sinks = (
        ("full", topo.full_dead_letters, config.output_topic, "append"),
        ("stats", topo.error_statistics, config.stats_topic, "update"),
        ("examples", topo.error_examples, config.examples_topic, "update"),
        ("errors", topo.error_topic, config.error_topic, "append"),
    )
    queries = []
    try:
        for name, df, topic, mode in sinks:
            queries.append(write_stream_to_kafka(
                df, config.brokers, topic, f"{ck}/{name}", mode,
                f"{config.app_id}-{name}",
            ))
    except BaseException:
        # a later start failed: stop the queries already running
        for q in queries:
            q.stop()
        raise
    return queries


def main(argv: list[str] | None = None) -> None:
    from kafka_dead_letter_analyzer_spark.session import get_spark

    config = parse_args(argv)
    spark = get_spark(
        app_name=config.app_id, rocksdb_state_store=config.rocksdb_state_store
    )
    if config.batch_input:
        if not config.batch_output:
            raise SystemExit("--batch-output is required with --batch-input")
        paths = run_batch(spark, config)
        for name, path in paths.items():
            print(f"{name}: {path}")
    else:
        if not config.brokers:
            raise SystemExit("--brokers is required in streaming mode")
        queries = run_streaming(spark, config)
        try:
            spark.streams.awaitAnyTermination()
        finally:
            # one failed query ends the wait by raising: stop the others
            for q in queries:
                q.stop()
