"""Structured Streaming layer tests (no broker needed).

- The Kafka decode cascade (S2) is a column program over the Kafka source's
  fixed schema, exercised here on batch frames of that shape.
- The stateful operators run under a real streaming engine via the file
  source (multi-micro-batch) + memory sink: update-mode statistics must
  converge to the batch result, and first-example must follow ARRIVAL order
  (the reference's semantics, ErrorAggregatingProcessor.java:59-65) — not
  timestamp order — across micro-batches.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from kafka_dead_letter_analyzer_spark.schemas import RAW_ENVELOPE
from kafka_dead_letter_analyzer_spark.sources import fixtures as FX
from kafka_dead_letter_analyzer_spark.streaming import (
    build_streaming_topology,
    decode_kafka_records,
    kafka_sink_projection,
)
from kafka_dead_letter_analyzer_spark.plans.topology import build_topology

UTC = dt.timezone.utc

KAFKA_SHAPE = (
    "key binary, value binary, "
    "headers array<struct<key:string,value:binary>>, "
    "topic string, partition int, offset bigint, timestamp timestamp"
)


def _kafka_row(value: bytes, topic="my-dead-letters", offset=0, key=b"k"):
    return (
        key,
        value,
        [("h", b"v")],
        topic,
        0,
        offset,
        dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=UTC),
    )


# ---------------------------------------------------------------------------
# S2 decode cascade
# ---------------------------------------------------------------------------


def test_decode_cascade_json_deadletter(spark):
    dl = FX.dead_letter_value()
    df = spark.createDataFrame(
        [_kafka_row(json.dumps(dl).encode())], schema=KAFKA_SHAPE
    )
    [row] = decode_kafka_records(df, use_avro=False).collect()
    assert row["value_deadletter"]["description"] == "Error in map"
    assert row["value_deadletter"]["cause"]["error_class"] == "java.lang.RuntimeException"
    assert row["value_text"] == json.dumps(dl)
    assert row["key"] == "k"
    assert row["topic"] == "my-dead-letters"


def test_decode_cascade_falls_back_to_text(spark):
    df = spark.createDataFrame(
        [
            _kafka_row(b"just some text", offset=1),
            # valid JSON but NOT the DeadLetter shape -> not a dead letter
            _kafka_row(b'{"id": 7}', offset=2),
            # JSON missing required cause -> not a dead letter
            _kafka_row(b'{"description": "x"}', offset=3),
        ],
        schema=KAFKA_SHAPE,
    )
    rows = {r["offset"]: r for r in decode_kafka_records(df, use_avro=False).collect()}
    assert all(rows[o]["value_deadletter"] is None for o in (1, 2, 3))
    assert rows[1]["value_text"] == "just some text"
    assert rows[2]["value_text"] == '{"id": 7}'


def test_decoded_records_flow_through_topology(spark):
    """Kafka-shaped input -> decode -> full batch topology end-to-end."""
    dl = FX.dead_letter_value()
    df = spark.createDataFrame(
        [_kafka_row(json.dumps(dl).encode())], schema=KAFKA_SHAPE
    )
    out = build_topology(decode_kafka_records(df, use_avro=False))
    [stats] = out.error_statistics.collect()
    assert stats["count"] == 1
    assert stats["type"] == "com.example.App.run(App.java:12)"
    assert out.error_topic.count() == 0


def test_kafka_sink_projection_shape(spark):
    df = spark.createDataFrame(
        [("t:x", 3, "a")], "kafka_key string, count int, type string"
    )
    [row] = kafka_sink_projection(df).collect()
    assert row["key"] == "t:x"
    assert json.loads(row["value"]) == {"count": 3, "type": "a"}


def test_error_topic_sink_value_is_unwrapped_dead_letter(spark):
    """O4's value must be the DeadLetter record itself, not
    {"dead_letter": {...}} — the decoder parses top-level fields."""
    from kafka_dead_letter_analyzer_spark.operators.errors import (
        error_to_dead_letter,
    )
    from kafka_dead_letter_analyzer_spark.operators.project import to_error_topic
    from kafka_dead_letter_analyzer_spark.plans.topology import CONVERT_ERROR_DESC

    raw = FX.raw_frame(
        spark, [FX.envelope(key="k1", value_text="not a dead letter", headers=[])]
    )
    bad = raw.withColumn(
        "_error",
        F.struct(
            F.lit("ConversionException").alias("error_class"),
            F.lit("no dialect matched").alias("message"),
        ),
    )
    err_frame = to_error_topic(error_to_dead_letter(bad, CONVERT_ERROR_DESC, F.col("value_text")))
    [row] = kafka_sink_projection(err_frame).collect()
    payload = json.loads(row["value"])
    assert "dead_letter" not in payload
    assert payload["description"] == CONVERT_ERROR_DESC
    assert payload["cause"]["message"] == "no dialect matched"


def test_e3_broker_roundtrip_error_topic_reenters_decoder(spark):
    """Broker-free E3 loop closure: to_error_topic -> kafka_sink_projection
    -> (simulated Kafka hop) -> decode_kafka_records must re-parse the
    record as a DeadLetter (value_deadletter non-null, fields intact) —
    the reference's self-analysis e2e
    (DeadLetterAnalyzerTopologyTest.java shouldProcessDeadLettersFromAnalyzer)."""
    from kafka_dead_letter_analyzer_spark.operators.errors import (
        error_to_dead_letter,
    )
    from kafka_dead_letter_analyzer_spark.operators.project import to_error_topic
    from kafka_dead_letter_analyzer_spark.plans.topology import CONVERT_ERROR_DESC
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        decode_kafka_records,
    )

    raw = FX.raw_frame(
        spark, [FX.envelope(key="k1", value_text="garbage payload", headers=[])]
    )
    bad = raw.withColumn(
        "_error",
        F.struct(
            F.lit("ConversionException").alias("error_class"),
            F.lit("no dialect matched").alias("message"),
        ),
    )
    wire = kafka_sink_projection(
        to_error_topic(error_to_dead_letter(bad, CONVERT_ERROR_DESC, F.col("value_text")))
    )
    # Simulate the broker hop: the written (key, value) strings come back
    # as binary columns with fresh record metadata, no headers.
    consumed = wire.select(
        F.lit("analyzer-dead-letters").alias("topic"),
        F.lit(0).alias("partition"),
        F.lit(7).cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(None)
        .cast("array<struct<key:string,value:binary>>")
        .alias("headers"),
    )
    [row] = decode_kafka_records(consumed, use_avro=False).collect()
    dl = row["value_deadletter"]
    assert dl is not None, "re-consumed error-topic record was not recognized"
    assert dl["description"] == CONVERT_ERROR_DESC
    assert dl["cause"]["message"] == "no dialect matched"
    assert dl["input_value"] == "garbage payload"


# ---------------------------------------------------------------------------
# Streaming stateful operators (file source, memory sink)
# ---------------------------------------------------------------------------


def _write_envelopes(spark, path: str, rows) -> None:
    # ONE ordered file per call: a small createDataFrame spreads over
    # many partitions, and multi-file writes can be discovered across
    # micro-batch boundaries in arbitrary order under load — which
    # breaks the arrival-order assumptions of tests like the
    # rate-limit cap (observed flaky only under full-suite load)
    FX.raw_frame(spark, rows).coalesce(1).write.mode("append").parquet(path)


def _run_updates(spark, src_dir: str, out_df_name: str, name: str, batches):
    """Feed `batches` (lists of envelope rows) through the streaming
    topology one micro-batch at a time; return the memory-sink rows."""
    _write_envelopes(spark, src_dir, batches[0])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src_dir)
    topo = build_streaming_topology(raw)
    q = (
        getattr(topo, out_df_name)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        for batch in batches[1:]:
            _write_envelopes(spark, src_dir, batch)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).collect()


@pytest.fixture()
def ts():
    def at(minute: int) -> dt.datetime:
        return dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=UTC) + dt.timedelta(
            minutes=minute
        )

    return at


def test_streaming_stats_converge_to_batch(spark, tmp_path, ts):
    batch1 = [
        FX.envelope(offset=0, timestamp=ts(5), value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, timestamp=ts(1), value_deadletter=FX.dead_letter_value()),
    ]
    batch2 = [
        FX.envelope(offset=2, timestamp=ts(9), value_deadletter=FX.dead_letter_value()),
    ]
    rows = _run_updates(
        spark, str(tmp_path / "src"), "error_statistics", "stats_sink", [batch1, batch2]
    )
    # update mode re-emits the key each batch; the LAST emission per key
    # (max count) is the converged value — compare with the batch plan
    final = {}
    for r in rows:
        if r["kafka_key"] not in final or r["count"] > final[r["kafka_key"]]["count"]:
            final[r["kafka_key"]] = r
    batch_out = build_topology(
        FX.raw_frame(spark, batch1 + batch2)
    ).error_statistics.collect()
    assert len(batch_out) == len(final) == 1
    expect = batch_out[0]
    got = final[expect["kafka_key"]]
    assert (got["count"], got["created"], got["updated"]) == (
        expect["count"],
        expect["created"],
        expect["updated"],
    ) == (3, "2024-01-01T12:01:00.000", "2024-01-01T12:09:00.000")


def test_streaming_first_example_is_arrival_order(spark, tmp_path, ts):
    """Batch 1 carries a LATER timestamp than batch 2 — arrival order must
    win (the reference keeps the first record it SEES), and the key emits
    exactly once."""
    batch1 = [
        FX.envelope(offset=10, key="late-but-first", timestamp=ts(30),
                    value_deadletter=FX.dead_letter_value()),
    ]
    batch2 = [
        FX.envelope(offset=1, key="early-but-second", timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
    ]
    rows = _run_updates(
        spark, str(tmp_path / "src"), "error_examples", "examples_sink", [batch1, batch2]
    )
    assert len(rows) == 1  # second arrival emits nothing
    [row] = rows
    assert row["example"]["key"] == "late-but-first"
    assert row["example"]["offset"] == 10
    assert row["example"]["timestamp"] == "2024-01-01T12:30:00.000"
    assert row["example"]["dead_letter"]["description"] == "Error in map"
    assert row["kafka_key"] == "my-dead-letters:com.example.App.run(App.java:12)"


def test_streaming_first_example_intra_batch_tiebreak(spark, tmp_path, ts):
    """Within ONE micro-batch there is no meaningful arrival order —
    (ts, offset) breaks the tie deterministically (same refinement as the
    batch operator, SURVEY.md §7.4)."""
    batch = [
        FX.envelope(offset=7, key="later", timestamp=ts(20),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=3, key="earlier", timestamp=ts(2),
                    value_deadletter=FX.dead_letter_value()),
    ]
    rows = _run_updates(
        spark, str(tmp_path / "src"), "error_examples", "examples_sink2", [batch]
    )
    [row] = rows
    assert row["example"]["key"] == "earlier"


def test_streaming_first_example_equal_ts_tiebreak_across_partitions(
    spark, tmp_path, ts
):
    """One micro-batch over two files (two scan partitions): on equal ts
    the lower offset wins even when it sits in the later partition, and
    the key is emitted once."""
    src = str(tmp_path / "src")
    _write_envelopes(spark, src, [
        FX.envelope(offset=9, key="tie-high", timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
    ])
    _write_envelopes(spark, src, [
        FX.envelope(offset=4, key="tie-low", timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=0, key="latest", timestamp=ts(3),
                    value_deadletter=FX.dead_letter_value()),
    ])
    assert spark.read.parquet(src).rdd.getNumPartitions() == 2
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    q = (
        build_streaming_topology(raw)
        .error_examples.writeStream.format("memory")
        .queryName("examples_tie_partitions")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        assert len(q.recentProgress) == 1  # both files in one micro-batch
    finally:
        q.stop()
    [row] = spark.table("examples_tie_partitions").collect()
    assert (row["example"]["key"], row["example"]["offset"]) == ("tie-low", 4)


def _drain_examples(spark, src: str, name: str, **options) -> tuple[list, int]:
    """(examples rows, micro-batches that read input) of one drain."""
    reader = spark.readStream.schema(RAW_ENVELOPE)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        build_streaming_topology(reader.parquet(src))
        .error_examples.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        batches = sum(p.numInputRows > 0 for p in q.recentProgress)
    finally:
        q.stop()
    return spark.table(name).collect(), batches


def test_streaming_examples_equal_batch_however_backlog_is_split(
    spark, tmp_path, ts
):
    """A backlog of three files, timestamps rising in file order, keys
    spread across the files: drained one file per micro-batch or all in
    one, the stream emits every key once and the rows equal the batch
    topology's examples over the same records."""
    def row(i: int, file: int, topic: str, frame: int):
        trace = (
            "java.lang.RuntimeException: boom\n"
            f"\tat com.example.App.m{frame}(App.java:{frame})\n"
        )
        return FX.envelope(
            topic=topic, offset=10 * file + i, key=f"f{file}-r{i}",
            timestamp=ts(10 * file + i % 3),
            value_deadletter=FX.dead_letter_value(stack_trace=trace),
        )

    files = [
        [row(i, f, topic, frame)
         for i, (topic, frame) in enumerate(
             [("a-dead-letters", f), ("a-dead-letters", f + 1),
              ("b-dead-letters", 1), ("b-dead-letters", f + 2)])]
        for f in range(3)
    ]
    src = str(tmp_path / "src")
    for rows in files:
        _write_envelopes(spark, src, rows)
    expect = build_topology(
        FX.raw_frame(spark, [r for rows in files for r in rows])
    ).error_examples.collect()
    assert len(expect) == 8  # new keys in every file

    for name, options, batches in (
        ("examples_split_1", {"maxFilesPerTrigger": 1}, 3),
        ("examples_split_all", {}, 1),
    ):
        got, ran = _drain_examples(spark, src, name, **options)
        assert ran == batches, name
        keys = [r["kafka_key"] for r in got]
        assert len(keys) == len(set(keys)), (name, keys)
        assert sorted(got) == sorted(expect), name


def test_streaming_full_output_appends(spark, tmp_path, ts):
    batch = [
        FX.envelope(offset=0, timestamp=ts(0), value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, timestamp=ts(1), value_deadletter=FX.dead_letter_value()),
    ]
    src = str(tmp_path / "src")
    _write_envelopes(spark, src, batch)
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    topo = build_streaming_topology(raw)
    q = (
        topo.full_dead_letters.writeStream.format("memory")
        .queryName("full_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("full_sink").collect()
    assert len(rows) == 2
    assert {r["kafka_key"] for r in rows} == {
        "my-dead-letters+0+0",
        "my-dead-letters+0+1",
    }


def test_foreachbatch_stateless_outputs_single_consumption(spark, tmp_path, ts):
    """One foreachBatch query produces BOTH stateless outputs (full feed +
    error topic) — shared normalization, single source consumption."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        start_stateless_outputs,
    )

    good = FX.envelope(offset=0, timestamp=ts(0),
                       value_deadletter=FX.dead_letter_value())
    bad = FX.envelope(  # null stack trace -> N1 failure -> error topic
        offset=1, key="bad", timestamp=ts(1),
        value_deadletter=FX.dead_letter_value(stack_trace=None))
    src = str(tmp_path / "src")
    _write_envelopes(spark, src, [good, bad])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)

    collected = {}

    def sink(name):
        def write(df, batch_id):
            collected.setdefault(name, []).extend(df.collect())
        return write

    q = start_stateless_outputs(
        raw, sink("full"), sink("errors"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    [full] = collected["full"]
    assert full["kafka_key"] == "my-dead-letters+0+0"
    [err] = collected["errors"]
    assert err["dead_letter"]["description"] == "Error analyzing dead letter"
    assert err["kafka_key"] == "bad"


def test_per_record_stats_cadence(spark, tmp_path, ts):
    """The exact-cadence stats operator emits ONE row per input record with
    the running aggregate (reference behavior,
    ErrorAggregatingProcessor.java:90-91) — across micro-batches."""
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.operators.errors import split_errors
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_error_statistics_per_record,
    )

    batch1 = [
        FX.envelope(offset=0, timestamp=ts(5), value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, timestamp=ts(1), value_deadletter=FX.dead_letter_value()),
    ]
    batch2 = [
        FX.envelope(offset=2, timestamp=ts(9), value_deadletter=FX.dead_letter_value()),
    ]
    src = str(tmp_path / "src")
    _write_envelopes(spark, src, batch1)
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    enriched, _ = split_errors(enrich_with_context(dead_letters))
    q = (
        streaming_error_statistics_per_record(enriched)
        .writeStream.format("memory")
        .queryName("stats_cadence")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_envelopes(spark, src, batch2)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(spark.table("stats_cadence").collect(), key=lambda r: r["count"])
    assert [r["count"] for r in rows] == [1, 2, 3]  # one emission per record
    assert rows[0]["created"] == "2024-01-01T12:01:00.000"  # (ts,offset) order
    assert rows[1]["created"] == "2024-01-01T12:01:00.000"
    assert rows[1]["updated"] == "2024-01-01T12:05:00.000"
    assert rows[2]["updated"] == "2024-01-01T12:09:00.000"  # state carried over


def test_first_example_state_survives_restart(spark, tmp_path, ts):
    """Stop the query, restart from the SAME checkpoint, feed the same key
    again — the state store must restore and the key must NOT re-emit
    (exactly-once example semantics across restarts)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_envelopes(spark, src, [
        FX.envelope(offset=0, key="first", timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
    ])

    collected: list = []

    def start():
        raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
        topo = build_streaming_topology(raw)
        return (
            topo.error_examples.writeStream.foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(collected) == 1 and collected[0]["example"]["key"] == "first"

    _write_envelopes(spark, src, [
        FX.envelope(offset=5, key="second-arrival", timestamp=ts(2),
                    value_deadletter=FX.dead_letter_value()),
    ])
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # restored state: same (topic, type) key -> nothing new emitted
    assert len(collected) == 1


def test_error_feedback_loop_via_file_broker_standin(spark, tmp_path):
    """File-backed stand-in for the broker E3 loop e2e (the real-broker
    variant stays env-gated in test_kafka_integration.py): the error-topic
    sink writes KAFKA-SHAPED records back into the watched source
    directory — exactly the role the broker's pattern subscription plays
    (README.md:47-48) — and the stream drains to the fixpoint. A
    null-stack-trace DeadLetter fails analysis (N1 -> E2), re-enters
    through the loop as a bare DeadLetter value, decodes via the S2
    cascade, and analyzes cleanly on the second hop: one full output, no
    third-generation error records."""
    from kafka_dead_letter_analyzer_spark.streaming import (
        build_streaming_topology,
        kafka_sink_projection,
    )

    src = str(tmp_path / "broker")
    fixed_ts = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=UTC)

    def as_kafka_rows(df):
        """key/value strings -> the Kafka source's fixed shape, with the
        metadata the broker would assign."""
        return kafka_sink_projection(df).select(
            F.encode("key", "UTF-8").alias("key"),
            F.encode("value", "UTF-8").alias("value"),
            F.lit(None).cast(
                "array<struct<key:string,value:binary>>"
            ).alias("headers"),
            F.lit("loop-dead-letters").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.monotonically_increasing_id().alias("offset"),
            F.lit(fixed_ts).alias("timestamp"),
        )

    # "produce" the poisoned record (analysis will fail on it)
    dl = FX.dead_letter_value(stack_trace=None)
    spark.createDataFrame(
        [_kafka_row(json.dumps(dl).encode(), topic="loop-dead-letters",
                    key=b"bad")],
        schema=KAFKA_SHAPE,
    ).write.mode("append").parquet(src)

    raw = spark.readStream.schema(KAFKA_SHAPE).parquet(src)
    topo = build_streaming_topology(decode_kafka_records(raw, use_avro=False))

    def write_back(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        as_kafka_rows(batch_df).write.mode("append").parquet(src)

    q_err = (
        topo.error_topic.writeStream.foreachBatch(write_back)
        .option("checkpointLocation", str(tmp_path / "ckpt-err"))
        .start()
    )
    q_full = (
        topo.full_dead_letters.writeStream.format("memory")
        .queryName("loop_full_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-full"))
        .start()
    )
    try:
        q_err.processAllAvailable()   # hop 1: failure -> error topic -> dir
        q_err.processAllAvailable()   # hop 2: re-entered record analyzes OK
        q_full.processAllAvailable()
    finally:
        q_err.stop()
        q_full.stop()

    # fixpoint: original + exactly one loop record, no third generation
    stored = spark.read.schema(KAFKA_SHAPE).parquet(src)
    assert stored.count() == 2
    [full] = spark.table("loop_full_sink").collect()
    assert full["dead_letter"]["description"] == "Error analyzing dead letter"
    assert full["type"] == "java.util.NoSuchElementException"
    assert full["topic"] == "loop-dead-letters"


def test_claim_check_roundtrip(spark, tmp_path):
    """Large values detour through the blob store and resolve back;
    small values pass through inline; rewrite is idempotent."""
    from kafka_dead_letter_analyzer_spark.streaming.large_message import (
        MARKER,
        claim_check_reads,
        claim_check_writes,
    )

    big = "x" * 5000
    df = spark.createDataFrame(
        [(1, "small"), (2, big), (3, None)], "id int, value string"
    )
    blob_dir = str(tmp_path / "blobs")
    wrapped = claim_check_writes(df, threshold=1000, blob_dir=blob_dir)
    rows = {r["id"]: r["value"] for r in wrapped.collect()}
    assert rows[1] == "small"
    assert rows[2].startswith(MARKER)
    assert rows[3] is None
    # idempotent: second pass creates no extra blobs
    claim_check_writes(df, threshold=1000, blob_dir=blob_dir).collect()
    import os
    assert len(os.listdir(blob_dir)) == 1

    restored = {r["id"]: r["value"] for r in claim_check_reads(wrapped).collect()}
    assert restored == {1: "small", 2: big, 3: None}


TEST_RECORD_SCHEMA = json.dumps({
    "type": "record",
    "name": "TestRecord",
    "namespace": "com.bakdata.kafka",
    "fields": [{"name": "id", "type": "int"}],
})


def test_avro_wire_key_decoded_through_topology(spark):
    """Mirror of the reference's shouldReadAvroKey e2e
    (DeadLetterAnalyzerTopologyTest.java:636-675): the record KEY arrives
    as Confluent-framed Avro WIRE bytes (TestRecord{id=1}, schema id 7 in
    the registry map), is brute-force decoded at S2 exactly like values
    (BruteForceSerde is the key serde too,
    DeadLetterAnalyzerTopology.java:102-105), and surfaces as the JSON
    rendering ``{"id":1}`` in context.key on the main output AND in the
    example — all three outputs keyed consistently; no dead letters."""
    from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
        confluent_frame,
        encode_bytes,
    )

    dl = FX.dead_letter_value(
        input_value="foo",
        description="description",
        stack_trace=(
            "org.jdbi.v3.core.ConnectionException: "
            "java.sql.SQLTransientConnectionException\n"
            "\tat org.jdbi.v3.core.Jdbi.open(Jdbi.java:319)\n"
        ),
    )
    wire_key = confluent_frame(
        encode_bytes({"id": 1}, json.loads(TEST_RECORD_SCHEMA)), 7
    )
    df = spark.createDataFrame(
        [_kafka_row(json.dumps(dl).encode(), key=wire_key)],
        schema=KAFKA_SHAPE,
    )
    out = build_topology(decode_kafka_records(
        df, use_avro=True, registry={7: TEST_RECORD_SCHEMA}
    ))

    [full] = out.full_dead_letters.collect()
    assert full["kafka_key"] == "my-dead-letters+0+0"
    assert full["key"] == '{"id":1}'
    assert full["type"] == "org.jdbi.v3.core.Jdbi.open(Jdbi.java:319)"

    [stats] = out.error_statistics.collect()
    assert stats["kafka_key"] == (
        "my-dead-letters:org.jdbi.v3.core.Jdbi.open(Jdbi.java:319)"
    )
    [example] = out.error_examples.collect()
    assert example["example"]["key"] == '{"id":1}'
    assert out.error_topic.count() == 0


def test_key_cascade_tiers(spark):
    """Key brute-force tiers: framed+registered -> JSON render;
    framed+unknown-id -> DeadLetter-schema attempt, miss -> UTF-8 cast;
    plain text key -> cast; null key -> null."""
    from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
        confluent_frame,
        encode_bytes,
    )

    wire = confluent_frame(
        encode_bytes({"id": 42}, json.loads(TEST_RECORD_SCHEMA)), 7
    )
    unknown = confluent_frame(
        encode_bytes({"id": 9}, json.loads(TEST_RECORD_SCHEMA)), 99
    )
    dl = json.dumps(FX.dead_letter_value()).encode()
    rows = [
        _kafka_row(dl, offset=0, key=wire),
        _kafka_row(dl, offset=1, key=unknown),
        _kafka_row(dl, offset=2, key=b"plain-key"),
        _kafka_row(dl, offset=3, key=None),
    ]
    out = decode_kafka_records(
        spark.createDataFrame(rows, schema=KAFKA_SHAPE),
        use_avro=True,
        registry={7: TEST_RECORD_SCHEMA},
    )
    keys = {r["offset"]: r["key"] for r in out.collect()}
    assert keys[0] == '{"id":42}'
    # id 99 unresolvable -> DeadLetter-schema attempt fails on the 2-byte
    # payload -> text tier (lossy cast, matching BruteForceSerde's
    # string/bytes fallback): no JSON render
    assert keys[1] is not None and not keys[1].startswith("{")
    assert keys[2] == "plain-key"
    assert keys[3] is None


def test_multischema_avro_value_renders_into_input_value(spark):
    """Mirror of shouldProcessConnectErrors
    (DeadLetterAnalyzerTopologyTest.java:385-440): a NON-DeadLetter Avro
    VALUE (TestRecord{id=0}, resolved via the registry map) arriving on a
    Connect DLQ with error headers must JSON-render as ``{"id":0}`` into
    the normalized dead letter's input_value — the Schema-Registry
    semantics of the reference's Avro tier (README.md:35)."""
    from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
        confluent_frame,
        encode_bytes,
    )
    from kafka_dead_letter_analyzer_spark.functions import headers as CH

    stack = (
        "org.jdbi.v3.core.ConnectionException: x\n"
        "\tat org.jdbi.v3.core.Jdbi.open(Jdbi.java:319)\n"
    )
    headers = [
        (CH.CONNECT_ORIG_PARTITION, b"1"),
        (CH.CONNECT_ORIG_TOPIC, b"my-topic"),
        (CH.CONNECT_ORIG_OFFSET, b"10"),
        (CH.CONNECT_STAGE, b"VALUE_CONVERTER"),
        (CH.CONNECT_EXECUTING_CLASS,
         b"org.apache.kafka.connect.json.JsonConverter"),
        (CH.CONNECT_EXCEPTION, b"org.apache.kafka.connect.errors.DataException"),
        (CH.CONNECT_TASK_ID, b"2"),
        (CH.CONNECT_CONNECTOR_NAME, b"my-connector"),
        (CH.CONNECT_EXCEPTION_MESSAGE, b"my message"),
        (CH.CONNECT_EXCEPTION_STACK_TRACE, stack.encode()),
    ]
    wire_value = confluent_frame(
        encode_bytes({"id": 0}, json.loads(TEST_RECORD_SCHEMA)), 7
    )
    row = (
        b"key", wire_value, headers, "my-connect-dead-letter-topic",
        0, 0, dt.datetime(2024, 1, 1, tzinfo=UTC),
    )
    out = build_topology(decode_kafka_records(
        spark.createDataFrame([row], schema=KAFKA_SHAPE),
        use_avro=True,
        registry={7: TEST_RECORD_SCHEMA},
    ))
    [full] = out.full_dead_letters.collect()
    assert full["dead_letter"]["input_value"] == '{"id":0}'
    assert full["dead_letter"]["description"] == (
        "Error in stage VALUE_CONVERTER "
        "(org.apache.kafka.connect.json.JsonConverter) in my-connector[2]"
    )
    assert full["key"] == "key"
    assert out.error_topic.count() == 0


def test_first_example_state_survives_restart_rocksdb(spark, tmp_path, ts):
    """Same recovery semantics under the RocksDB state-store provider — the
    reference's store durability choice (DeadLetterAnalyzerTopology.java:
    220-226). Asserts RocksDB actually engaged via the state operator's
    rocksdb* custom metrics, then restores the default provider."""
    from kafka_dead_letter_analyzer_spark.session import ROCKSDB_PROVIDER

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, ROCKSDB_PROVIDER)
    try:
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        _write_envelopes(spark, src, [
            FX.envelope(offset=0, key="first", timestamp=ts(1),
                        value_deadletter=FX.dead_letter_value()),
        ])

        collected: list = []
        progress: list = []

        def start():
            raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
            topo = build_streaming_topology(raw)
            return (
                topo.error_examples.writeStream.foreachBatch(
                    lambda df, bid: collected.extend(df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        try:
            q.processAllAvailable()
            progress.append(q.lastProgress)
        finally:
            q.stop()
        assert len(collected) == 1 and collected[0]["example"]["key"] == "first"
        ops = progress[-1]["stateOperators"]
        assert ops and any(
            k.startswith("rocksdb") for k in ops[0]["customMetrics"]
        ), "RocksDB provider did not engage"

        _write_envelopes(spark, src, [
            FX.envelope(offset=5, key="second-arrival", timestamp=ts(2),
                        value_deadletter=FX.dead_letter_value()),
        ])
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        # RocksDB-restored state: same (topic, type) key -> no re-emission
        assert len(collected) == 1
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)


def test_windowed_stats_append_finalizes_on_watermark(spark, tmp_path, ts):
    """Watermarked windowed stats: a window's row appears only after the
    watermark passes its end; too-late records are dropped; counts are
    finalized per (window, topic, type)."""
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_windowed_statistics,
    )

    src = str(tmp_path / "src")

    # batch 1: two records inside the 12:00-13:00 window
    _write_envelopes(spark, src, [
        FX.envelope(offset=0, timestamp=ts(5),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, timestamp=ts(20),
                    value_deadletter=FX.dead_letter_value()),
    ])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    out = streaming_windowed_statistics(
        enrich_with_context(dead_letters),
        window_duration="1 hour",
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark has not passed 13:00 -> nothing finalized yet
        assert spark.table("win_stats").count() == 0
        # batch 2: an event at 14:30 pushes the watermark to 14:20 > 13:00
        _write_envelopes(spark, src, [
            FX.envelope(offset=2, timestamp=ts(150),
                        value_deadletter=FX.dead_letter_value()),
        ])
        q.processAllAvailable()
        # one more empty-advance batch lets Spark emit the closed window
        _write_envelopes(spark, src, [
            FX.envelope(offset=3, timestamp=ts(151),
                        value_deadletter=FX.dead_letter_value()),
        ])
        q.processAllAvailable()
        rows = spark.table("win_stats").collect()
        assert len(rows) == 1, rows
        [w] = rows
        assert w["count"] == 2
        assert w["window_start"] == "2024-01-01T12:00:00.000"
        assert w["window_end"] == "2024-01-01T13:00:00.000"
        assert w["created"] == "2024-01-01T12:05:00.000"
        assert w["updated"] == "2024-01-01T12:20:00.000"
    finally:
        q.stop()


def test_streaming_dedup_drops_redelivered_records(spark, tmp_path, ts):
    """Redelivered (topic, partition, offset) identities are emitted once,
    including redeliveries arriving in LATER micro-batches while the key
    is still within the watermark horizon."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_dedup_records,
    )

    src = str(tmp_path / "src")
    dup = FX.envelope(offset=0, timestamp=ts(1),
                      value_deadletter=FX.dead_letter_value())
    other = FX.envelope(offset=1, timestamp=ts(2),
                        value_deadletter=FX.dead_letter_value())
    _write_envelopes(spark, src, [dup, dup, other])  # in-batch duplicate
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    q = (
        streaming_dedup_records(raw, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("dedup_sink").count() == 2
        _write_envelopes(spark, src, [dup])  # cross-batch redelivery
        q.processAllAvailable()
        rows = spark.table("dedup_sink").collect()
        assert len(rows) == 2
        assert {r["offset"] for r in rows} == {0, 1}
    finally:
        q.stop()


def test_session_stats_append_finalizes_on_gap(spark, tmp_path, ts):
    """Session-window stats: events closer than the gap merge into one
    burst; the session row is emitted once, only after the watermark
    passes the session close (last event + gap)."""
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_session_statistics,
    )

    src = str(tmp_path / "src")

    # burst: 12:05 and 12:20 (15-min gap < 30 min -> one session,
    # closing at 12:50)
    _write_envelopes(spark, src, [
        FX.envelope(offset=0, timestamp=ts(5),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, timestamp=ts(20),
                    value_deadletter=FX.dead_letter_value()),
    ])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    out = streaming_session_statistics(
        enrich_with_context(dead_letters),
        gap="30 minutes",
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("session_stats")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark (12:20 - 10min) has not passed the session close -> open
        assert spark.table("session_stats").count() == 0
        # 14:30 pushes the watermark to 14:20 > 12:50 -> burst finalizes
        _write_envelopes(spark, src, [
            FX.envelope(offset=2, timestamp=ts(150),
                        value_deadletter=FX.dead_letter_value()),
        ])
        q.processAllAvailable()
        _write_envelopes(spark, src, [
            FX.envelope(offset=3, timestamp=ts(151),
                        value_deadletter=FX.dead_letter_value()),
        ])
        q.processAllAvailable()
        rows = spark.table("session_stats").collect()
        assert len(rows) == 1, rows
        [s] = rows
        assert s["count"] == 2
        assert s["session_start"] == "2024-01-01T12:05:00.000"
        assert s["session_end"] == "2024-01-01T12:20:00.000"
    finally:
        q.stop()


class _FakeValueState:
    """Mimics the state-v2 ValueState surface the processor touches."""

    def __init__(self, ttl_ms):
        self.ttl_ms = ttl_ms
        self._value = None

    def exists(self):
        return self._value is not None

    def get(self):
        return self._value

    def update(self, value):
        self._value = value

    def evict(self):  # simulate the store's TTL expiry
        self._value = None


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        state = _FakeValueState(ttlDurationMs)
        self.states[name] = state
        return state


def _ttl_rows(pdfs):
    return iter(pdfs)


def test_ttl_processor_merge_logic_without_worker_protocol(ts):
    """The TTL stats processor's aggregation contract, driven directly
    through handleInputRows with a mocked handle/state — the merge
    semantics (count sum, created=min, updated=max, one update-mode row
    per input batch, restart-from-zero after eviction) are exactly
    ErrorAggregatingProcessor.java:51-74's, and must hold independent of
    the state-v2 worker protocol (which needs google.protobuf and
    RocksDB — environment-gated e2e below)."""
    import pandas as pd

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        make_ttl_stats_processor,
    )

    proc = make_ttl_stats_processor(ttl_ms=12_345)
    handle = _FakeHandle()
    proc.init(handle)
    # the TTL is declared on the state, not tracked in Python
    assert handle.states["stats"].ttl_ms == 12_345

    key = ("topic-a", "type-a")
    t1, t2, t3 = ts(0), ts(5), ts(10)

    # batch 1: two rows (split across two pdfs to exercise the inner merge)
    out1 = list(
        proc.handleInputRows(
            key,
            _ttl_rows([pd.DataFrame({"ts": [t2]}), pd.DataFrame({"ts": [t1]})]),
            None,
        )
    )
    assert len(out1) == 1
    row = out1[0].iloc[0]
    assert (row["topic"], row["type"], row["count"]) == ("topic-a", "type-a", 2)
    assert row["created"] == pd.Timestamp(t1) and row["updated"] == pd.Timestamp(t2)

    # batch 2 merges with surviving state: count 3, created keeps min
    out2 = list(
        proc.handleInputRows(key, _ttl_rows([pd.DataFrame({"ts": [t3]})]), None)
    )
    row = out2[0].iloc[0]
    assert row["count"] == 3
    assert row["created"] == pd.Timestamp(t1) and row["updated"] == pd.Timestamp(t3)

    # an out-of-order batch never regresses updated / advances created
    out3 = list(
        proc.handleInputRows(key, _ttl_rows([pd.DataFrame({"ts": [t2]})]), None)
    )
    row = out3[0].iloc[0]
    assert row["count"] == 4
    assert row["created"] == pd.Timestamp(t1) and row["updated"] == pd.Timestamp(t3)

    # empty batch: no output, state untouched
    assert (
        list(proc.handleInputRows(key, _ttl_rows([pd.DataFrame({"ts": []})]), None))
        == []
    )
    assert handle.states["stats"].get()[0] == 4

    # TTL eviction (the store's job): next arrival restarts from zero
    handle.states["stats"].evict()
    out4 = list(
        proc.handleInputRows(key, _ttl_rows([pd.DataFrame({"ts": [t3]})]), None)
    )
    row = out4[0].iloc[0]
    assert row["count"] == 1
    assert row["created"] == pd.Timestamp(t3) and row["updated"] == pd.Timestamp(t3)


def test_ttl_stats_accumulate_and_expire(spark, tmp_path, ts):
    """State-v2 TTL stats: counts accumulate across micro-batches while the
    key is live; after the TTL passes with no arrivals, the store evicts
    the key and the next arrival restarts from zero."""
    import time as _time

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        state_v2_available,
    )

    if not state_v2_available():
        pytest.skip(
            "transformWithStateInPandas needs google.protobuf "
            "(absent in this container)"
        )

    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.session import ROCKSDB_PROVIDER
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_error_statistics_ttl,
    )

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, ROCKSDB_PROVIDER)
    try:
        src = str(tmp_path / "src")
        _write_envelopes(spark, src, [
            FX.envelope(offset=0, timestamp=ts(1),
                        value_deadletter=FX.dead_letter_value()),
            FX.envelope(offset=1, timestamp=ts(2),
                        value_deadletter=FX.dead_letter_value()),
        ])
        raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
        dead_letters, _ = stream_dead_letters(raw)
        out = streaming_error_statistics_ttl(
            enrich_with_context(dead_letters), ttl_ms=2_000
        )
        q = (
            out.writeStream.format("memory")
            .queryName("ttl_stats")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.table("ttl_stats").collect()
            assert [r["count"] for r in rows] == [2]
            assert rows[0]["created"] == "2024-01-01T12:01:00.000"
            assert rows[0]["updated"] == "2024-01-01T12:02:00.000"

            # within TTL: accumulates
            _write_envelopes(spark, src, [
                FX.envelope(offset=2, timestamp=ts(3),
                            value_deadletter=FX.dead_letter_value()),
            ])
            q.processAllAvailable()
            counts = sorted(r["count"] for r in spark.table("ttl_stats").collect())
            assert counts == [2, 3]

            # idle past the 2s TTL: key evicted, restart from zero
            _time.sleep(4)
            _write_envelopes(spark, src, [
                FX.envelope(offset=3, timestamp=ts(10),
                            value_deadletter=FX.dead_letter_value()),
            ])
            q.processAllAvailable()
            counts = sorted(r["count"] for r in spark.table("ttl_stats").collect())
            assert counts == [1, 2, 3], "expired key did not restart"
        finally:
            q.stop()
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)


def test_ttl_stats_plan_builds_without_state_v2_runtime(spark, tmp_path, ts):
    """The TTL-stats operator must at least PLAN everywhere (the protobuf
    dependency is a stream-start requirement, not a plan-time one), with
    the FullErrorStatistics column contract."""
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_error_statistics_ttl,
    )

    src = str(tmp_path / "src")
    _write_envelopes(spark, src, [
        FX.envelope(offset=0, timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
    ])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    out = streaming_error_statistics_ttl(enrich_with_context(dead_letters))
    assert out.columns == [
        "kafka_key", "count", "created", "updated", "topic", "type",
    ]
    assert out.isStreaming


def test_stream_stream_interval_join_matches_batch_join(spark, tmp_path, ts):
    """Dead letters joined to deployment markers on the same topic within
    the preceding hour, as a watermarked stream-stream interval join —
    final emitted rows must equal the equivalent batch join."""
    from kafka_dead_letter_analyzer_spark.streaming import streaming_interval_join

    err_schema = "topic string, etype string, ts timestamp"
    mk_schema = "topic string, marker_id long, m_ts timestamp"
    errs1 = [("t1", "deser", ts(30)), ("t2", "convert", ts(40))]
    mks1 = [("t1", 100, ts(10))]                      # within 1h of t1@30
    errs2 = [("t1", "deser", ts(95))]                 # 85 min after marker 100
    mks2 = [("t2", 200, ts(5)), ("t1", 300, ts(90))]  # 200->t2@40; 300->t1@95

    e_dir, m_dir = str(tmp_path / "errs"), str(tmp_path / "mks")
    spark.createDataFrame(errs1, err_schema).write.mode("append").parquet(e_dir)
    spark.createDataFrame(mks1, mk_schema).write.mode("append").parquet(m_dir)

    e_stream = spark.readStream.schema(err_schema).parquet(e_dir)
    m_stream = spark.readStream.schema(mk_schema).parquet(m_dir)
    joined = streaming_interval_join(
        e_stream, m_stream, on="topic", left_ts="ts", right_ts="m_ts",
        lookback="1 hour", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(errs2, err_schema).write.mode("append").parquet(e_dir)
        spark.createDataFrame(mks2, mk_schema).write.mode("append").parquet(m_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["topic"], r["etype"], r["marker_id"])
        for r in spark.table("ssj_sink").collect()
    }
    # batch equivalent over the full data
    eb = spark.createDataFrame(errs1 + errs2, err_schema)
    mb = spark.createDataFrame(mks1 + mks2, mk_schema)
    expect = {
        (r["topic"], r["etype"], r["marker_id"])
        for r in eb.join(
            mb,
            (eb.topic == mb.topic)
            & (mb.m_ts <= eb.ts)
            & (mb.m_ts >= eb.ts - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == expect
    # the cross-batch match (marker 300 from batch 2 with error t1@95 from
    # batch 2, and t1@30's marker from batch 1) must both be present
    assert ("t1", "deser", 100) in got and ("t1", "deser", 300) in got


def test_threshold_alert_fires_once_at_crossing(spark, tmp_path, ts):
    """Counts accumulate across micro-batches; the alert row appears
    exactly once, in the batch where the cumulative count crosses the
    threshold, carrying the exact crossing count."""
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_threshold_alerts,
    )

    batches = [
        [FX.envelope(offset=i, timestamp=ts(i), value_deadletter=FX.dead_letter_value())
         for i in range(2)],                    # count 2 < 3: no alert
        [FX.envelope(offset=9, timestamp=ts(9), value_deadletter=FX.dead_letter_value())],
        [FX.envelope(offset=20, timestamp=ts(20), value_deadletter=FX.dead_letter_value())],
    ]
    src = str(tmp_path / "alerts_src")
    _write_envelopes(spark, src, batches[0])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    enriched = enrich_with_context(dead_letters)
    q = (
        streaming_threshold_alerts(enriched, threshold=3)
        .writeStream.format("memory")
        .queryName("alert_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("alert_sink").count() == 0  # below threshold
        for b in batches[1:]:
            _write_envelopes(spark, src, b)
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("alert_sink").collect()
    assert len(rows) == 1, rows  # exactly one alert despite batch 3
    assert rows[0]["count_at_alert"] == 3


def test_threshold_alert_state_survives_restart(spark, tmp_path, ts):
    """The counter AND the alerted flag must both restore from the
    checkpoint: a restart mid-accumulation still alerts at the exact
    crossing, and a restart after alerting stays silent."""
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_threshold_alerts,
    )

    src = str(tmp_path / "ta_src")
    ckpt = str(tmp_path / "ta_ckpt")
    collected: list = []

    def start():
        raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
        dl, _ = stream_dead_letters(raw)
        return (
            streaming_threshold_alerts(enrich_with_context(dl), threshold=3)
            .writeStream.foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_envelopes(spark, src, [
        FX.envelope(offset=i, timestamp=ts(i), value_deadletter=FX.dead_letter_value())
        for i in range(2)
    ])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert collected == []  # count 2 < 3

    _write_envelopes(spark, src, [
        FX.envelope(offset=7, timestamp=ts(7), value_deadletter=FX.dead_letter_value())
    ])
    q = start()  # restart: counter must resume from 2, not 0
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(collected) == 1 and collected[0]["count_at_alert"] == 3

    _write_envelopes(spark, src, [
        FX.envelope(offset=9, timestamp=ts(9), value_deadletter=FX.dead_letter_value())
    ])
    q = start()  # restart again: alerted flag must suppress re-emission
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(collected) == 1


def test_interval_join_disambiguates_colliding_columns(spark, tmp_path, ts):
    """Both streams carrying a same-named event-time column must still
    produce a valid (unambiguous) output schema."""
    from kafka_dead_letter_analyzer_spark.streaming import streaming_interval_join

    e_dir, m_dir = str(tmp_path / "e2"), str(tmp_path / "m2")
    spark.createDataFrame(
        [("t1", "deser", ts(30))], "topic string, etype string, ts timestamp"
    ).write.parquet(e_dir)
    spark.createDataFrame(
        [("t1", 5, ts(10))], "topic string, marker_id long, ts timestamp"
    ).write.parquet(m_dir)
    j = streaming_interval_join(
        spark.readStream.schema("topic string, etype string, ts timestamp").parquet(e_dir),
        spark.readStream.schema("topic string, marker_id long, ts timestamp").parquet(m_dir),
        on="topic", left_ts="ts", right_ts="ts",
    )
    assert j.columns == ["topic", "etype", "ts", "marker_id", "right_ts"]
    q = j.writeStream.format("memory").queryName("ssj2").outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    [row] = spark.table("ssj2").collect()
    assert row["marker_id"] == 5 and row["right_ts"] < row["ts"]


# ---------------------------------------------------------------------------
# Samplers/splits are stateless column programs: they must run unchanged
# under the streaming engine and keep/assign exactly the rows the batch
# formulation does (the corpus pipeline's ingest-time sampling path).
# ---------------------------------------------------------------------------


def test_samplers_apply_identically_on_streams(spark, tmp_path):
    from kafka_dead_letter_analyzer_spark.operators import sampling as SA

    src = str(tmp_path / "docs_src")
    batch_df = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS STRING) AS src", "id * 3 AS n_chars"
    )
    batch_df.write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id bigint, src string, n_chars bigint").parquet(src)

    def pipeline(df):
        kept = SA.mixture_sample(
            df, key="doc_id", mix_col="src", rates={"0": 1.0, "1": 0.4},
            default_rate=0.2,
        )
        return SA.hash_split(
            kept, key="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
        )

    q = (
        pipeline(stream)
        .writeStream.format("memory")
        .queryName("sampled_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["doc_id"], r["split"]) for r in spark.table("sampled_stream").collect()}
    want = {(r["doc_id"], r["split"]) for r in pipeline(batch_df).collect()}
    assert got == want and len(got) > 0


def test_streaming_ingest_pipeline_mixture_split_chunk(spark, tmp_path):
    """The full ingest-time corpus pass — mixture sampling -> split
    assignment -> sliding-window chunking — is stateless end to end, so
    it must run as ONE streaming query producing exactly the batch
    rows. This is the shape a 100 TB continuous-ingest pipeline runs on
    the firehose before anything stateful."""
    from kafka_dead_letter_analyzer_spark.operators import sampling as SA
    from kafka_dead_letter_analyzer_spark.operators import text as TX

    src = str(tmp_path / "ingest_src")
    docs = spark.range(0, 300).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN 'web' ELSE 'books' END AS source",
        "concat_ws(' ', array_repeat(concat('w', CAST(id AS STRING)), "
        "CAST(5 + id % 60 AS INT))) AS text",
    )
    docs.write.mode("append").parquet(src)

    def chunks_only(df):
        kept = SA.mixture_sample(
            df, key="doc_id", mix_col="source",
            rates={"web": 1.0, "books": 0.4},
        )
        kept = SA.hash_split(
            kept, key="doc_id", fractions={"train": 0.9, "val": 0.1}
        )
        return TX.chunk_with_overlap(
            kept.select("doc_id", "split", "text")
        , chunk_tokens=16, stride=12)

    stream = spark.readStream.schema("doc_id bigint, source string, text string").parquet(src)
    q = (
        chunks_only(stream)
        .writeStream.format("memory")
        .queryName("ingest_chunks")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"])
        for r in spark.table("ingest_chunks").collect()
    }
    want = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"])
        for r in chunks_only(docs).collect()
    }
    assert got == want and len(got) > 200


def test_streaming_topk_tracks_running_heavy_hitters(spark, tmp_path, ts):
    """Complete-mode top-k must re-rank as counts accumulate across
    micro-batches: a type that overtakes another must displace it."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_topk_types,
    )

    def letters(n, t):
        return [
            FX.envelope(
                offset=i,
                timestamp=ts(i),
                value_deadletter=FX.dead_letter_value(),
                topic=f"{t}-dead-letters",
            )
            for i in range(n)
        ]

    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )

    src = str(tmp_path / "topk_src")
    _write_envelopes(spark, src, letters(3, "aaa") + letters(1, "bbb"))
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    enriched = enrich_with_context(dead_letters)
    q = (
        streaming_topk_types(enriched, k=2)
        .writeStream.format("memory")
        .queryName("topk_live")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["topic"]: r["count"] for r in spark.table("topk_live").collect()
        }
        # bbb overtakes aaa
        _write_envelopes(spark, src, letters(5, "bbb"))
        q.processAllAvailable()
        second = [
            (r["topic"], r["count"])
            for r in spark.table("topk_live")
            .orderBy(F.col("count").desc())
            .collect()
        ]
    finally:
        q.stop()
    assert first.get("aaa-dead-letters") == 3
    assert second[0] == ("bbb-dead-letters", 6)
    assert second[1] == ("aaa-dead-letters", 3)


def test_streaming_chunk_dedup_within_watermark(spark, tmp_path):
    """Continuous-ingest boilerplate suppression: chunk the stream, then
    dropDuplicatesWithinWatermark on the chunk fingerprint — a repeated
    chunk arriving within the horizon is emitted once; state is bounded
    by the watermark, not stream lifetime."""
    from kafka_dead_letter_analyzer_spark.operators import text as TX

    src = str(tmp_path / "chunk_dedup_src")
    schema = "doc_id bigint, ts timestamp, text string"
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 12, 0, tzinfo=UTC), "shared header block one two"),
            (2, dt.datetime(2024, 1, 1, 12, 1, tzinfo=UTC), "shared header block one two"),
            (3, dt.datetime(2024, 1, 1, 12, 2, tzinfo=UTC), "unique body text here"),
        ],
        schema,
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    # keep_cols carries the event-time column through the chunk fan-out —
    # dropDuplicatesWithinWatermark requires it on the deduped frame
    chunks = TX.chunk_with_overlap(
        stream.withWatermark("ts", "10 minutes").select("doc_id", "ts", "text"),
        chunk_tokens=8,
        stride=8,
        keep_cols=("ts",),
    )
    q = (
        chunks.withColumn("fp", F.md5(F.col("chunk_text")))
        .dropDuplicatesWithinWatermark(["fp"])
        .writeStream.format("memory")
        .queryName("chunk_dedup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("chunk_dedup").collect()
    texts = sorted(r["chunk_text"] for r in rows)
    # the shared chunk appears ONCE despite two source docs
    assert texts == ["shared header block one two", "unique body text here"]


def test_stream_static_dimension_enrichment(spark, tmp_path, ts):
    """Stream-static join: a streaming fact feed enriches against a
    static dimension table (the standard reference-data join;
    Structured Streaming plans the static side as a per-micro-batch
    broadcast). Rows with no dimension match pass through with nulls
    (left join), so reference-data gaps never drop facts."""
    dim = spark.createDataFrame(
        [("events-dead-letters", "team-a"), ("other-topic", "team-b")],
        "topic string, owner string",
    )
    src = str(tmp_path / "src")
    _write_envelopes(spark, src, [
        FX.envelope(offset=0, topic="events-dead-letters", timestamp=ts(0),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, topic="unowned-topic", timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
    ])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    enriched = raw.join(F.broadcast(dim), "topic", "left").select(
        "topic", "offset", "owner"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("dim_enriched")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["offset"]: r["owner"] for r in spark.table("dim_enriched").collect()}
    assert rows == {0: "team-a", 1: None}


def test_streaming_rate_limit_caps_per_key_window(spark, tmp_path, ts):
    """At most N rows per key per event-time window pass through, in
    arrival order across micro-batches; a new window resets the budget."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_rate_limit,
    )

    src = str(tmp_path / "src")
    # window = 600 s; ts(i) spaces minutes apart (same window for 0..5)
    _write_envelopes(spark, src, [
        FX.envelope(offset=0, key="hot", timestamp=ts(0),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, key="hot", timestamp=ts(1),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=2, key="hot", timestamp=ts(2),
                    value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=3, key="cold", timestamp=ts(3),
                    value_deadletter=FX.dead_letter_value()),
    ])
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    limited = streaming_rate_limit(
        raw.select("topic", "key", "offset", "timestamp"),
        key_cols=["key"],
        max_per_window=2,
    )
    q = (
        limited.writeStream.format("memory")
        .queryName("rate_limited")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: same window for 'hot' (budget spent) + far-future
        # row in a NEW window (fresh budget)
        _write_envelopes(spark, src, [
            FX.envelope(offset=4, key="hot", timestamp=ts(4),
                        value_deadletter=FX.dead_letter_value()),
            FX.envelope(offset=5, key="hot", timestamp=ts(200),
                        value_deadletter=FX.dead_letter_value()),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(r["offset"] for r in spark.table("rate_limited").collect())
    # hot window 1: offsets 0,1 pass, 2 and 4 dropped; cold: 3; new window: 5
    assert rows == [0, 1, 3, 5]


def test_streaming_hll_registers_bounded_state_converges_to_batch(spark, tmp_path):
    """The HLL register sketch runs UNCHANGED as a streaming aggregation
    (groupBy register + max is streaming-supported) with state bounded
    at 2^p rows no matter how many events flow — the streaming
    distinct-count shape: complete-mode register table after N
    micro-batches == the batch sketch over the union of the batches."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    src = str(tmp_path / "hll_src")
    b1 = spark.createDataFrame([(i,) for i in range(100)], "user_id bigint")
    b2 = spark.createDataFrame([(i,) for i in range(50, 150)], "user_id bigint")
    b1.write.mode("append").parquet(src)
    stream = spark.readStream.schema("user_id bigint").parquet(src)
    sketch = SK.hll_register_maxima(stream, "user_id", p=6)
    q = (
        sketch.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            r["register"]: r["max_rho"]
            for r in spark.table("hll_stream").collect()
        }
    finally:
        q.stop()
    expect = {
        r["register"]: r["max_rho"]
        for r in SK.hll_register_maxima(
            b1.unionAll(b2), "user_id", p=6
        ).collect()
    }
    assert got == expect
    assert len(got) <= 64


def test_streaming_windowed_hll_with_watermark_converges(spark, tmp_path):
    """Event-time-windowed HLL registers under a watermark (append
    mode): finalized daily sketches from the stream equal the batch
    per-day sketches — the streaming daily-active-users shape with
    bounded state (2^p rows per open window)."""
    import datetime as dt

    from pyspark.sql import functions as SF2

    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    src = str(tmp_path / "whll_src")
    day1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    day2 = dt.datetime(2024, 1, 2, 10, 0, 0)
    day3 = dt.datetime(2024, 1, 5, 10, 0, 0)  # advances watermark past d1/d2
    b1 = [(day1, i) for i in range(40)] + [(day2, 100 + i) for i in range(30)]
    b2 = [(day3, 999)]
    spark.createDataFrame(b1, "ts timestamp, user_id bigint").write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("ts timestamp, user_id bigint")
        .parquet(src)
        .withWatermark("ts", "1 day")
    )
    tail = 1 << 52
    h = SK.md5_u60(SF2.col("user_id").cast("string"))
    sketch = (
        stream.select(SF2.window("ts", "1 day").alias("w"), h.alias("h"))
        .select(
            SF2.date_format("w.start", "yyyy-MM-dd").alias("day"),
            SF2.expr(f"h DIV {tail}").cast("int").alias("register"),
            SF2.when(SF2.col("h") % tail == 0, SF2.lit(53))
            .otherwise(SF2.lit(52) - SF2.length(SF2.bin(SF2.col("h") % tail)) + 1)
            .cast("int")
            .alias("rho"),
            SF2.col("w"),
        )
        .groupBy("w", "day", "register")
        .agg(SF2.max("rho").alias("max_rho"))
        .drop("w")
    )
    q = (
        sketch.writeStream.format("memory")
        .queryName("whll_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, "ts timestamp, user_id bigint").write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            (r["day"], r["register"]): r["max_rho"]
            for r in spark.table("whll_stream").collect()
        }
    finally:
        q.stop()
    batch = spark.createDataFrame(b1, "ts timestamp, user_id bigint")
    expect = {
        (r["day"], r["register"]): r["max_rho"]
        for r in SK.hll_register_maxima(
            batch.select(SF2.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"),
            "user_id",
            p=8,
            group_cols=["day"],
        ).collect()
    }
    assert got == expect and got


def test_streaming_quantile_sketch_converges_to_batch(spark, tmp_path):
    """The stateful streaming level sketch equals the BATCH
    quantile_level_sketch over the same rows after any number of
    micro-batches — level-sampling state is arrival-order- and
    batching-independent (the reason it, not KLL, is the streaming
    quantile operator). The latest emission per group carries the max
    n; re-leveling across batches must prune previously-kept rows."""
    from pyspark.sql import functions as SF2

    from kafka_dead_letter_analyzer_spark.operators.quantiles import (
        quantile_level_sketch,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_quantile_sketch,
    )

    src = str(tmp_path / "qsk_src")
    k = 16
    # two batches per group; enough rows that L rises between batches
    b1 = [("api", i, float(i % 97)) for i in range(300)]
    b2 = [("api", 1000 + i, float(i % 89)) for i in range(250)] + [
        ("db", 5000 + i, float(i)) for i in range(40)
    ]
    schema = "grp string, event_id bigint, value double"
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_quantile_sketch(
        stream, group_col="grp", key="event_id", value_col="value", k=k
    )
    q = (
        out.writeStream.format("memory")
        .queryName("qsk_stream")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
        emitted = spark.table("qsk_stream").collect()
    finally:
        q.stop()
    latest_n = {}
    for r in emitted:
        latest_n[r["group_key"]] = max(latest_n.get(r["group_key"], 0), r["n"])
    got = {
        (r["group_key"], r["h60"], r["v"], r["weight"], r["n"])
        for r in emitted
        if r["n"] == latest_n[r["group_key"]]
    }
    batch = spark.createDataFrame(b1 + b2, schema)
    expected = {
        (r["grp"], r["h60"], r["v"], r["weight"], r["n"])
        for r in quantile_level_sketch(
            batch, key="event_id", value_col="value", k=k, group_cols=["grp"]
        ).collect()
    }
    assert got == expected
    # non-vacuous: the api group re-leveled between batches (L > 0)
    assert any(g == "api" and w > 1 for g, _, _, w, _ in got)


def test_streaming_heavy_hitters_guarantees_and_exact_regime(spark, tmp_path):
    """Streaming MG: in the exact regime (k >= distinct) the latest
    emission equals the exact running counts (= the batch mg_summary);
    in the decrement regime every emission satisfies the MG
    certificates (lower bounds; coverage above (n-sum)/(k+1))."""
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_heavy_hitters,
    )

    rng = random.Random(5)
    b1 = [("g", it) for it in ["a"] * 120 + ["b"] * 60 + [f"t{i}" for i in range(80)]]
    b2 = [("g", it) for it in ["a"] * 50 + ["c"] * 90 + [f"u{i}" for i in range(70)]]
    rng.shuffle(b1); rng.shuffle(b2)
    true = {}
    for _, it in b1 + b2:
        true[it] = true.get(it, 0) + 1
    n_total = len(b1) + len(b2)

    def run(k):
        src = str(tmp_path / f"mg_src_{k}")
        schema = "grp string, event_type string"
        spark.createDataFrame(b1, schema).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_heavy_hitters(stream, "grp", "event_type", k=k)
        q = (out.writeStream.format("memory").queryName(f"mg_s_{k}")
             .outputMode("update").start())
        try:
            q.processAllAvailable()
            spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
            q.processAllAvailable()
            rows = spark.table(f"mg_s_{k}").collect()
        finally:
            q.stop()
        max_n = max(r["n"] for r in rows)
        assert max_n == n_total
        return {r["item"]: r["count_lower"] for r in rows if r["n"] == max_n}

    # decrement regime: certificates hold on the final emission
    k = 5
    got = run(k)
    assert 0 < len(got) <= k
    cert = (n_total - sum(got.values())) / (k + 1)
    for item, c in got.items():
        assert c <= true[item]
        assert true[item] - c <= cert
    for item, t in true.items():
        if t > cert:
            assert item in got
    # exact regime: equals exact counts
    assert run(1000) == true


# ---------------------------------------------------------------------------
# Online CUSUM rate-shift alerts
# ---------------------------------------------------------------------------


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.exists = True


def _drive_cusum(fn, bucket_batches):
    """Feed lists of bucket indices through the state fn; return alerts."""
    import pandas as pd

    st = _FakeState()
    alerts = []
    for tbs in bucket_batches:
        for out in fn(("t", "ty"), [pd.DataFrame({"tb": tbs})], st):
            alerts.extend(
                (r.direction, int(r.bucket_start_us), int(r.stat))
                for r in out.itertuples()
            )
    return alerts, st._v


def _naive_cusum(counts_by_bucket, ref_up, ref_dn, h):
    """Per-bucket reference: fold EVERY bucket (empties included) from
    the first seen to the last CLOSED bucket (the final bucket stays
    open, exactly like the operator)."""
    buckets = sorted(counts_by_bucket)
    lo, hi = buckets[0], buckets[-1]
    d_up = d_dn = 0
    alerts = []
    for b in range(lo, hi):  # hi stays open
        x = counts_by_bucket.get(b, 0)
        d_up = max(0, d_up + x - ref_up)
        if d_up >= h:
            alerts.append(("up", b, d_up))
            d_up = 0
        d_dn = max(0, d_dn + ref_dn - x)
        if d_dn >= h:
            alerts.append(("down", b, d_dn))
            d_dn = 0
    return alerts, d_up, d_dn


def test_cusum_fn_burst_and_outage_alerts():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_cusum_fn,
    )

    fn = _make_cusum_fn(bus=1, ref_up=2, ref_dn=2, threshold=4)
    # buckets: 0 has 2 events (at rate), 1 has 5, 2 has 5, 3 has 1
    batch1 = [0] * 2 + [1] * 5 + [2] * 5 + [3]
    # then silence until bucket 10
    batch2 = [10]
    alerts, state = _drive_cusum(fn, [batch1, batch2])
    # fold(5@1): d_up=3; fold(5@2): d_up=6 >= 4 -> up alert, reset
    assert alerts[0] == ("up", 2, 6)
    # fold(1@3): d_dn=1; gap 4..9 grows 2/bucket, crossing every 2
    assert alerts[1:] == [("down", 5, 5), ("down", 7, 4), ("down", 9, 4)]
    assert state == (10, 1, 0, 0)  # bucket 10 open with one event


def test_cusum_fn_gap_closed_form_matches_naive():
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_cusum_fn,
    )

    rng = random.Random(0xC05A)
    for trial in range(20):
        ref_up = rng.randint(1, 4)
        ref_dn = rng.randint(0, 3)
        h = rng.randint(2, 8)
        counts = {}
        b = 0
        for _ in range(rng.randint(2, 10)):
            counts[b] = rng.randint(1, 6)
            b += rng.randint(1, 12)  # gaps exercise the closed form
        tbs = [tb for tb, c in counts.items() for _ in range(c)]
        rng.shuffle(tbs)
        # split arbitrarily into micro-batches; order within each batch
        # is irrelevant (the fn sorts bucket indices)... but buckets may
        # not go backwards ACROSS batches, so split at a sorted cut
        tbs.sort()
        cut = rng.randint(0, len(tbs))
        fn = _make_cusum_fn(bus=1, ref_up=ref_up, ref_dn=ref_dn,
                            threshold=h)
        alerts, state = _drive_cusum(fn, [tbs[:cut], tbs[cut:]])
        want_alerts, d_up, d_dn = _naive_cusum(counts, ref_up, ref_dn, h)
        assert alerts == want_alerts, (trial, counts, ref_up, ref_dn, h)
        assert state[2:] == (d_up, d_dn), (trial, counts)


def test_cusum_fn_threshold_zero_disables_alerts_and_terminates():
    """threshold <= 0 means alerts-disabled (fold()'s contract); the
    gap fold must honor it too — before the guard, need = threshold -
    d_dn <= 0 made j <= 0 and the crossing loop never terminated."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_cusum_fn,
    )

    for h in (0, -5):
        fn = _make_cusum_fn(bus=1, ref_up=2, ref_dn=2, threshold=h)
        # bucket 0 closes, then a 9-bucket empty gap before bucket 10
        alerts, state = _drive_cusum(fn, [[0, 0, 0], [10]])
        assert alerts == []
        # fold(3@0): d_dn = max(0, 0 + 2 - 3) = 0; gap of 9 empties
        # accumulates 9 * ref_dn = 18 with no alarm and no reset
        assert state == (10, 1, 0, 18)


def test_cusum_fn_late_rows_fold_into_current_bucket():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_cusum_fn,
    )

    fn = _make_cusum_fn(bus=1, ref_up=1, ref_dn=0, threshold=3)
    # bucket 5 accumulates; a late bucket-3 row joins it
    alerts, state = _drive_cusum(fn, [[5], [3], [6]])
    # fold(2@5): d_up = max(0, 2-1) = 1; no alert
    assert alerts == []
    assert state == (6, 1, 1, 0)


def test_streaming_cusum_alerts_end_to_end(spark, tmp_path, ts):
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_cusum_alerts,
    )

    def burst(minute, n, base):
        return [
            FX.envelope(offset=base + i, timestamp=ts(minute),
                        value_deadletter=FX.dead_letter_value())
            for i in range(n)
        ]

    # minutes 0..2 at/above rate then one closer event at minute 3
    batch1 = (burst(0, 2, 0) + burst(1, 5, 10) + burst(2, 5, 20)
              + burst(3, 1, 30))
    batch2 = burst(10, 1, 40)  # closes the 4..9 outage gap

    src = str(tmp_path / "cusum_src")
    _write_envelopes(spark, src, batch1)
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    enriched = enrich_with_context(dead_letters)
    q = (
        streaming_cusum_alerts(
            enriched, bucket_us=60_000_000, ref=2, slack=0, threshold=4
        )
        .writeStream.format("memory")
        .queryName("cusum_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = [
            (r["direction"], r["bucket_start_us"], r["stat"])
            for r in spark.table("cusum_sink").collect()
        ]
        _write_envelopes(spark, src, batch2)
        q.processAllAvailable()
    finally:
        q.stop()

    base_us = int(ts(0).timestamp() * 1_000_000)
    minute = 60_000_000
    assert first == [("up", base_us + 2 * minute, 6)]
    rows = [
        (r["direction"], r["bucket_start_us"], r["stat"])
        for r in spark.table("cusum_sink").collect()
    ]
    assert rows == [
        ("up", base_us + 2 * minute, 6),
        ("down", base_us + 5 * minute, 5),
        ("down", base_us + 7 * minute, 4),
        ("down", base_us + 9 * minute, 4),
    ]


# ---------------------------------------------------------------------------
# Streaming mix-drift monitor


def test_mix_drift_fn_exact_tvd_per_closed_bucket():
    import pandas as pd

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_mix_drift_fn,
    )

    fn = _make_mix_drift_fn({"A": 1, "B": 1}, bus=10)
    st = _FakeState()
    rows = []

    def drive(tbs_cats):
        pdf = pd.DataFrame(
            {"tb": [t for t, _ in tbs_cats], "cat": [c for _, c in tbs_cats]}
        )
        for out in fn(("topic-1",), [pdf], st):
            rows.extend(
                (int(r.bucket_start_us), int(r.n), int(r.tvd_ppm))
                for r in out.itertuples()
            )

    # bucket 0: perfectly balanced {A:2, B:2} vs 50/50 baseline -> 0
    drive([(0, "A"), (0, "A"), (0, "B"), (0, "B")])
    assert rows == []  # bucket still open
    # bucket 2 opens -> bucket 0 closes; gap bucket 1 emits nothing
    drive([(2, "A"), (2, "A"), (2, "A"), (2, "B")])
    assert rows == [(0, 4, 0)]
    # late row for bucket 1 folds into OPEN bucket 2 (documented)
    drive([(1, "A")])
    # bucket 5 opens -> bucket 2 closes with {A:4, B:1}:
    # TVD = (|4/5 - 1/2| + |1/5 - 1/2|)/2 = 3/10 -> 300000 ppm
    drive([(5, "C")])
    assert rows == [(0, 4, 0), (20, 5, 300_000)]
    # a category absent from the baseline contributes its whole mass:
    # when bucket 5 {C:1} closes, TVD = (1/1 + 1/2 + 1/2)/2 = 1 -> 1e6
    drive([(9, "A")])
    assert rows[-1] == (50, 1, 1_000_000)


def test_mix_drift_rejects_empty_baseline():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_mix_drift_fn,
    )

    with pytest.raises(ValueError, match="positive mass"):
        _make_mix_drift_fn({}, bus=10)


def test_streaming_mix_drift_end_to_end(spark, tmp_path, ts):
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_mix_drift,
    )

    # all fixtures share one (topic, type): baseline = that type only
    batch1 = [
        FX.envelope(offset=i, timestamp=ts(0),
                    value_deadletter=FX.dead_letter_value())
        for i in range(3)
    ]
    batch2 = [
        FX.envelope(offset=10, timestamp=ts(5),
                    value_deadletter=FX.dead_letter_value())
    ]
    src = str(tmp_path / "mixdrift_src")
    _write_envelopes(spark, src, batch1)
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    enriched = enrich_with_context(dead_letters)
    # pin the fixture's classified type from the BATCH topology so the
    # baseline matches exactly and the expected TVD is 0
    batch_enriched = enrich_with_context(
        stream_dead_letters(FX.raw_frame(spark, batch1))[0]
    )
    [fixture_type] = [
        r["type"]
        for r in batch_enriched.select("error_key.type").distinct().collect()
    ]
    q = (
        streaming_mix_drift(
            enriched,
            baseline={fixture_type: 1},
            bucket_us=60_000_000,
        )
        .writeStream.format("memory")
        .queryName("mixdrift_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("mixdrift_sink").count() == 0  # bucket open
        _write_envelopes(spark, src, batch2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("mixdrift_sink").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n"] == 3
    base_us = int(ts(0).timestamp() * 1_000_000)
    assert r["bucket_start_us"] == base_us
    assert r["tvd_ppm"] == 0  # bucket mix == baseline mix exactly


# ---------------------------------------------------------------------------
# Streaming W1 (numeric) drift monitor


def test_w1_drift_fn_exact_distances_and_differential():
    import pandas as pd
    from fractions import Fraction

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_w1_drift_fn,
    )

    def brute_w1(cur: dict, base: dict):
        n, B = sum(cur.values()), sum(base.values())
        support = sorted(set(cur) | set(base))
        tot, c1, c2 = Fraction(0), 0, 0
        for v, nxt in zip(support, support[1:]):
            c1 += cur.get(v, 0)
            c2 += base.get(v, 0)
            tot += abs(Fraction(c1, n) - Fraction(c2, B)) * (nxt - v)
        return tot.numerator * 10**6 // tot.denominator if tot else 0

    base = {10: 2, 20: 2}
    fn = _make_w1_drift_fn(base, bus=10, max_values=100)
    st = _FakeState()
    rows = []

    def drive(tb_vals):
        pdf = pd.DataFrame(
            {"tb": [t for t, _ in tb_vals], "v": [v for _, v in tb_vals]}
        )
        for out in fn(("t",), [pdf], st):
            rows.extend(
                (int(r.bucket_start_us), int(r.n), int(r.w1_e6))
                for r in out.itertuples()
            )

    # bucket 0 matches the baseline exactly -> W1 = 0
    drive([(0, 10), (0, 10), (0, 20), (0, 20)])
    drive([(1, 30)])  # closes bucket 0
    assert rows == [(0, 4, 0)]
    # bucket 1 = {30: 1}: every unit of baseline mass travels to 30;
    # W1 = |F diff| integral = brute
    drive([(2, 10)])
    assert rows[-1] == (10, 1, brute_w1({30: 1}, base))
    # randomized differential on single-bucket closes
    import random

    rng = random.Random(0x3107)
    b = 3
    for _ in range(6):
        cur = {}
        for _ in range(rng.randint(1, 8)):
            v = rng.randint(0, 40)
            cur[v] = cur.get(v, 0) + 1
        drive([(b, v) for v in sorted(
            [v for v, c in cur.items() for _ in range(c)])])
        drive([(b + 1, 10)])  # close it
        assert rows[-1][2] == brute_w1(cur, base), cur
        # the closer bucket (b+1, one {10} row) becomes the open one;
        # the next iteration's bucket b+2 closes it before filling
        b += 2


def test_w1_drift_max_values_raises():
    import pandas as pd
    import pytest as _pytest

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_w1_drift_fn,
    )

    fn = _make_w1_drift_fn({1: 1}, bus=1, max_values=3)
    st = _FakeState()
    pdf = pd.DataFrame({"tb": [0, 0, 0, 0], "v": [1, 2, 3, 4]})
    with _pytest.raises(ValueError, match="max_values"):
        list(fn(("t",), [pdf], st))


def test_streaming_w1_drift_end_to_end(spark, tmp_path, ts):
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_w1_drift,
    )

    # use the record OFFSET as the monitored integer value
    batch1 = [
        FX.envelope(offset=o, timestamp=ts(0),
                    value_deadletter=FX.dead_letter_value())
        for o in (10, 10, 20, 20)
    ]
    batch2 = [
        FX.envelope(offset=30, timestamp=ts(5),
                    value_deadletter=FX.dead_letter_value())
    ]
    src = str(tmp_path / "w1drift_src")
    _write_envelopes(spark, src, batch1)
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    q = (
        streaming_w1_drift(
            dead_letters.select(
                "topic",
                F.col("offset").alias("off"),
                F.col("timestamp").alias("cts"),
            ),
            value_expr="off",
            ts_expr="unix_micros(cts)",
            baseline={10: 2, 20: 2},
            bucket_us=60_000_000,
        )
        .writeStream.format("memory")
        .queryName("w1drift_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("w1drift_sink").count() == 0
        _write_envelopes(spark, src, batch2)
        q.processAllAvailable()
    finally:
        q.stop()
    [r] = spark.table("w1drift_sink").collect()
    assert r["n"] == 4 and r["w1_e6"] == 0  # matches baseline exactly


# ---------------------------------------------------------------------------
# Streaming trailing-window Theil-Sen trend alerts


def _drive_trend(fn, bucket_batches):
    import pandas as pd

    st = _FakeState()
    alerts = []
    for tbs in bucket_batches:
        for out in fn(("t", "ty"), [pd.DataFrame({"tb": tbs})], st):
            alerts.extend(
                (int(r.bucket_start_us), int(r.slope_num),
                 int(r.slope_den), int(r.window_n))
                for r in out.itertuples()
            )
    return alerts, st._v


def _trend_brute(counts_by_bucket, window):
    """Replay every close over the full timeline with a local
    Fraction-exact trailing-window Theil-Sen."""
    from fractions import Fraction

    buckets = sorted(counts_by_bucket)
    lo, hi = buckets[0], buckets[-1]
    alerts = []
    for b in range(lo, hi):  # hi stays open
        start = max(lo, b - window + 1)
        dense = [(t, counts_by_bucket.get(t, 0))
                 for t in range(start, b + 1)]
        if len(dense) < 2:
            continue
        slopes = sorted(
            (Fraction(dense[j][1] - dense[i][1], dense[j][0] - dense[i][0]),
             dense[j][1] - dense[i][1], dense[j][0] - dense[i][0])
            for i in range(len(dense)) for j in range(i + 1, len(dense))
        )
        _, dy, dx = slopes[(len(slopes) + 1) // 2 - 1]
        alerts.append((b, dy, dx, sum(x for _, x in dense)))
    return alerts


def test_trend_fn_matches_brute_replay_randomized():
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_trend_fn,
    )

    rng = random.Random(0x7E3D)
    for trial in range(10):
        window = rng.randint(2, 8)
        counts = {}
        b = 0
        for _ in range(rng.randint(2, 12)):
            counts[b] = rng.randint(1, 9)
            b += rng.randint(1, 4)
        tbs = sorted(t for t, c in counts.items() for _ in range(c))
        cut = rng.randint(0, len(tbs))
        # thr 0/1: every close alerts -> the alert stream IS the full
        # slope trace, comparable to the brute replay
        fn = _make_trend_fn(bus=1, window=window, thr_num=0, thr_den=1)
        alerts, _ = _drive_trend(fn, [tbs[:cut], tbs[cut:]])
        want = _trend_brute(counts, window)
        assert alerts == want, (trial, counts, window, alerts, want)


def test_trend_fn_long_gap_bounded_and_exact():
    """A gap far longer than the window must (a) match the unbounded
    brute replay exactly — the skipped closes are provably identical
    slope-0 evaluations whose emissions are replicated — and (b) leave
    the post-gap state equal to a run that never skipped, so the
    buckets AFTER the gap also match."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_trend_fn,
    )

    window = 5
    counts = {0: 4, 1: 7, 2: 9, 500: 3, 501: 6, 503: 2}
    tbs = sorted(t for t, c in counts.items() for _ in range(c))
    # thr 0: every close alerts -> replication must reproduce the full
    # slope trace of the 497-bucket gap bit-for-bit
    fn = _make_trend_fn(bus=1, window=window, thr_num=0, thr_den=1)
    alerts, state = _drive_trend(fn, [tbs])
    want = _trend_brute(counts, window)
    assert alerts == want
    # thr 1/1: the zero-slope gap closes emit nothing; only the decay
    # right after the burst and any post-gap trend can alert
    fn2 = _make_trend_fn(bus=1, window=window, thr_num=1, thr_den=1)
    alerts2, state2 = _drive_trend(fn2, [tbs])
    want2 = [a for a in want if abs(a[1]) * 1 >= 1 * a[2]]
    assert alerts2 == want2
    # replication is O(window^2), not O(gap * window^2): a 10M-bucket
    # gap (a stray ~19-year-future timestamp at minute buckets) returns
    # promptly — this test HANGS rather than fails if the cap is lost
    import time

    t0 = time.time()
    fn3 = _make_trend_fn(bus=1, window=8, thr_num=1, thr_den=1)
    alerts3, _ = _drive_trend(fn3, [[0, 0, 0, 10_000_000]])
    assert time.time() - t0 < 10.0
    # only the post-burst decay closes can clear |slope| >= 1; the
    # all-zero bulk of the gap emits nothing
    assert 0 < len(alerts3) <= 8 and all(a[1] < 0 for a in alerts3)


def test_trend_alert_fires_on_ramp_not_on_spike():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_trend_fn,
    )

    # steady ramp +2/bucket: slope 2 >= 1 -> alerts
    ramp = [t for t in range(6) for _ in range(2 * t + 1)]
    fn = _make_trend_fn(bus=1, window=8, thr_num=1, thr_den=1)
    alerts, _ = _drive_trend(fn, [ramp, [9]])
    assert alerts, "ramp must alert"
    # flat with ONE spike bucket: median slope stays 0 -> silent
    flat = [t for t in range(8) for _ in range(3)] + [3] * 50
    fn2 = _make_trend_fn(bus=1, window=8, thr_num=1, thr_den=1)
    alerts2, _ = _drive_trend(fn2, [sorted(flat), [9]])
    assert alerts2 == [], alerts2


def test_streaming_trend_alerts_guards(spark):
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_trend_alerts,
    )

    df = spark.range(1).select(
        F.struct(F.lit("t").alias("topic"), F.lit("y").alias("type"))
        .alias("error_key"),
        F.struct(F.current_timestamp().alias("timestamp")).alias("context"),
    )
    with pytest.raises(ValueError, match="window"):
        streaming_trend_alerts(df, window=1)
    with pytest.raises(ValueError, match="thr_num"):
        streaming_trend_alerts(df, thr_den=0)


# ---------------------------------------------------------------------------
# DGIM sliding-window count


def _drive_dgim(fn, batches):
    import pandas as pd

    st = _FakeState()
    outs = []
    for us_list in batches:
        for out in fn(("t", "ty"), [pd.DataFrame({"us": us_list})], st):
            outs.append(
                (int(out["as_of_us"][0]), int(out["est_count"][0]),
                 int(out["n_buckets"][0]))
            )
    return outs, st._v


def test_dgim_error_bound_and_state_size_randomized():
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_dgim_fn,
    )

    rng = random.Random(0xD914)
    W, k = 1000, 4
    for trial in range(8):
        fn = _make_dgim_fn(window_us=W, k=k)
        events = sorted(rng.randint(0, 5000) for _ in range(rng.randint(
            20, 400)))
        # feed in 3 arbitrary sorted chunks
        c1, c2 = sorted(rng.sample(range(len(events) + 1), 2))
        outs, state = _drive_dgim(
            fn, [events[:c1], events[c1:c2], events[c2:]]
        )
        as_of, est, nb = outs[-1]
        exact = sum(1 for e in events if e > as_of - W)
        sizes = [int(s) for s in state[1]]
        oldest = sizes[0] if sizes else 0
        # structural bound: only the straddling oldest bucket is
        # uncertain, and it contributes half its size
        assert abs(est - exact) <= (oldest + 1) // 2, (
            trial, est, exact, sizes,
        )
        # DGIM state bound: at most (k+1) buckets per size level
        from collections import Counter

        assert all(c <= k + 1 for c in Counter(sizes).values())
        # log-bounded state: sizes are powers of two
        assert all(s & (s - 1) == 0 for s in sizes)


def test_dgim_exact_while_window_small():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_dgim_fn,
    )

    # with k large relative to the event count, no merges happen and
    # the estimate is EXACT (every bucket is size 1, oldest//2 = 0)
    fn = _make_dgim_fn(window_us=100, k=64)
    outs, _ = _drive_dgim(fn, [[1, 2, 3], [50, 90], [140]])
    # as of 140, window (40, 140]: events 50, 90, 140 -> exactly 3
    assert outs[-1][1] == 3


def test_streaming_sliding_count_end_to_end(spark, tmp_path, ts):
    from kafka_dead_letter_analyzer_spark.operators.enrich import (
        enrich_with_context,
    )
    from kafka_dead_letter_analyzer_spark.plans.topology import (
        stream_dead_letters,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_sliding_count,
    )

    batch1 = [
        FX.envelope(offset=i, timestamp=ts(i),
                    value_deadletter=FX.dead_letter_value())
        for i in range(4)  # minutes 0..3
    ]
    batch2 = [
        FX.envelope(offset=99, timestamp=ts(90),
                    value_deadletter=FX.dead_letter_value())
    ]
    src = str(tmp_path / "dgim_src")
    _write_envelopes(spark, src, batch1)
    raw = spark.readStream.schema(RAW_ENVELOPE).parquet(src)
    dead_letters, _ = stream_dead_letters(raw)
    enriched = enrich_with_context(dead_letters)
    q = (
        streaming_sliding_count(
            enriched, window_us=3_600_000_000, k=8  # 1h window
        )
        .writeStream.format("memory")
        .queryName("dgim_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows1 = spark.table("dgim_sink").collect()
        _write_envelopes(spark, src, batch2)
        q.processAllAvailable()
    finally:
        q.stop()
    # first batch: 4 events inside the hour, small enough to be exact
    assert rows1[-1]["est_count"] == 4
    rows = spark.table("dgim_sink").collect()
    # at minute 90, only the minute-90 event is within the last hour
    assert rows[-1]["est_count"] == 1


# ---------------------------------------------------------------------------
# Streaming seasonal (hour-of-day) baseline


def _drive_seasonal(fn, bucket_batches):
    import pandas as pd

    st = _FakeState()
    rows = []
    for tbs in bucket_batches:
        for out in fn(("t", "ty"), [pd.DataFrame({"tb": tbs})], st):
            rows.extend(
                (int(r.day), int(r.hod), int(r.cnt), int(r.med_cnt),
                 int(r.n_days), int(r.ratio_e6))
                for r in out.itertuples()
            )
    return rows, st._v


def _batch_seasonal_ref(counts, today):
    """x_seasonal_anomaly's algebra in pure Python, anchored at
    ``today``: per hod, today's count vs the lower median of the
    strictly-prior days' POSITIVE counts for that hod; hods with no
    baseline drop, silent-today hods emit ratio 0."""
    rows = []
    for hod in range(24):
        prior = sorted(
            c for (d, h), c in counts.items()
            if h == hod and d < today and c > 0
        )
        if not prior:
            continue
        med = prior[(len(prior) + 1) // 2 - 1]
        cnt = counts.get((today, hod), 0)
        ratio = ((cnt * 1000) // med) * 1000 + (
            ((cnt * 1000) % med) * 1000
        ) // med
        rows.append((today, hod, cnt, med, len(prior), ratio))
    return rows


def test_seasonal_fn_matches_batch_algebra_for_closed_day():
    """Emissions for a fully CLOSED day must equal the batch seasonal
    query's rows anchored at that day, bit for bit — including ratio-0
    rows for baselined hours silent that day (closed via the gap)."""
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_seasonal_fn,
    )

    rng = random.Random(0x5EA5)
    for trial in range(5):
        counts: dict[tuple, int] = {}
        for d in range(5):
            for hod in rng.sample(range(24), rng.randint(4, 12)):
                counts[(d, hod)] = rng.randint(1, 9)
        today = 4
        tbs = sorted(
            d * 24 + h
            for (d, h), c in counts.items()
            for _ in range(c)
        )
        # sentinel event the day after closes every bucket of `today`
        tbs.append((today + 1) * 24 + 0)
        cut = rng.randint(0, len(tbs))
        fn = _make_seasonal_fn(history_days=28, max_gap_closes=168)
        rows, _ = _drive_seasonal(fn, [tbs[:cut], tbs[cut:]])
        got = sorted(r for r in rows if r[0] == today)
        want = sorted(_batch_seasonal_ref(counts, today))
        assert got == want, (trial, got, want)


def test_seasonal_fn_history_bound_and_gap_cap():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_seasonal_fn,
    )

    # history_days=2: day-0 counts must age out of day-3's baseline
    fn = _make_seasonal_fn(history_days=2, max_gap_closes=168)
    tbs = []
    for d, c in ((0, 9), (1, 3), (2, 5), (3, 4)):
        tbs.extend([d * 24 + 6] * c)
    tbs.append(4 * 24)  # close day 3
    rows, state = _drive_seasonal(fn, [tbs])
    by_day = {r[0]: r for r in rows if r[1] == 6}
    # day 3's window is the 2 strictly-prior days [1, 2]: counts
    # {3, 5}, lower median 3 over 2 baseline days (day 0's 9 aged out)
    assert by_day[3][3] == 3 and by_day[3][4] == 2
    # state stays bounded: at most (history_days+1)*24 history entries
    assert len(state[2]) <= 3 * 24
    # a huge gap returns promptly and closes at most max_gap_closes
    import time

    t0 = time.time()
    fn2 = _make_seasonal_fn(history_days=28, max_gap_closes=48)
    rows2, _ = _drive_seasonal(
        fn2, [[6] * 5, [10_000_000]]
    )
    assert time.time() - t0 < 5.0
    # ratio-0 rows only for the 48 capped closes at baselined hour 6
    assert all(r[1] == 6 and r[2] == 0 for r in rows2)
    assert len(rows2) <= 48 // 24 + 1


def test_seasonal_fn_same_day_hods_share_one_baseline_window():
    """Regression (round-8 review): recording one hour of day D must
    not prune the oldest in-window day before D's OTHER hours close —
    every hour of a day reads the same [D - history_days, D - 1]
    baseline regardless of close order."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_seasonal_fn,
    )

    fn = _make_seasonal_fn(history_days=2, max_gap_closes=168)
    # day0 h6 = 1; day1 h6 = 9; day2: h5 = 2 then h6 = 4; close via day3
    tbs = (
        [0 * 24 + 6] * 1 + [1 * 24 + 6] * 9
        + [2 * 24 + 5] * 2 + [2 * 24 + 6] * 4
        + [3 * 24]
    )
    rows, _ = _drive_seasonal(fn, [tbs])
    got = {(r[0], r[1]): r for r in rows}
    # day2 h6 must see prior {1 (day0), 9 (day1)} -> lower median 1,
    # n_days 2, ratio 4e6 — even though day2 h5 recorded first
    assert got[(2, 6)] == (2, 6, 4, 1, 2, 4_000_000)


def test_streaming_seasonal_alerts_end_to_end(spark, tmp_path):
    """Real Structured Streaming run over file micro-batches: the
    operator wires (error_key, context.timestamp) and emits baseline
    comparisons in update mode."""
    import datetime as dt

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_seasonal_alerts,
    )

    epoch = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = []
    for d in range(3):
        for rep in range(2 + d):  # hour 5 of each day, growing count
            rows.append((d * 24 + 5, rep))
    rows.append((3 * 24 + 0, 0))  # closes day 2
    schema = (
        "error_key struct<topic:string,type:string>,"
        " context struct<timestamp:timestamp>"
    )
    data = [
        (
            ("t1", "E"),
            (epoch + dt.timedelta(hours=tb),),
        )
        for tb, _ in rows
    ]
    src = str(tmp_path / "seasonal_src")
    # one coalesced file per day, appended in order: buckets never go
    # backwards across micro-batches (the operators' shared contract)
    by_day: dict[int, list] = {}
    for (ek, ctx), (tb, _) in zip(data, rows):
        by_day.setdefault(tb // 24, []).append((ek, ctx))
    for d in sorted(by_day):
        spark.createDataFrame(by_day[d], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_seasonal_alerts(stream)
        .writeStream.format("memory")
        .queryName("seasonal_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["day"], r["hod"]): (r["cnt"], r["med_cnt"], r["ratio_e6"])
            for r in spark.table("seasonal_sink").collect()
        }
    finally:
        q.stop()
    base_day = int(epoch.timestamp()) // 86400  # absolute epoch day
    # day 1 hour 5: cnt 3 vs baseline median {2} -> ratio 1.5e6
    assert got[(base_day + 1, 5)] == (3, 2, 1_500_000)
    # day 2 hour 5: cnt 4 vs lower median of {2, 3} = 2 -> 2e6
    assert got[(base_day + 2, 5)] == (4, 2, 2_000_000)


# ---------------------------------------------------------------------------
# DGIM sliding-window SUM (bit planes)


def _drive_dgim_sum(fn, batches):
    import pandas as pd

    st = _FakeState()
    outs = []
    for pairs in batches:
        pdf = pd.DataFrame(
            {"us": [u for u, _ in pairs], "w": [w for _, w in pairs]}
        )
        for out in fn(("t", "ty"), [pdf], st):
            outs.append(
                (int(out["as_of_us"][0]), int(out["est_sum"][0]),
                 int(out["err_bound"][0]), int(out["n_buckets"][0]))
            )
    return outs, st._v


def test_dgim_sum_exact_regime_equals_true_sliding_sum():
    """With k large enough that no plane ever merges, the estimate IS
    the exact sliding sum and the certificate is 0 — across random
    weights, windows, and arbitrary micro-batch splits."""
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_dgim_sum_fn,
    )

    rng = random.Random(0xD61)
    for trial in range(5):
        window = rng.randint(20, 60)
        events = sorted(
            (rng.randint(0, 200), rng.randint(0, 1023))
            for _ in range(rng.randint(10, 60))
        )
        cut = rng.randint(0, len(events))
        fn = _make_dgim_sum_fn(window, k=10_000, weight_bits=10)
        outs, _ = _drive_dgim_sum(fn, [events[:cut], events[cut:]])
        # check the FINAL emission against the exact trailing window
        as_of, est, err, _ = outs[-1]
        true = sum(w for u, w in events if as_of - window < u <= as_of)
        assert err == 0
        assert est == true, (trial, est, true)


def test_dgim_sum_certificate_holds_under_merging():
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_dgim_sum_fn,
    )

    rng = random.Random(0xD62)
    for k in (1, 2, 4):
        events = sorted(
            (rng.randint(0, 500), rng.choice([1, 3, 7, 12, 100, 900]))
            for _ in range(400)
        )
        fn = _make_dgim_sum_fn(100, k=k, weight_bits=10)
        outs, _ = _drive_dgim_sum(fn, [events])
        as_of, est, err, nb = outs[-1]
        true = sum(w for u, w in events if as_of - 100 < u <= as_of)
        assert abs(est - true) <= err, (k, est, true, err)
        # a filled window's certificate is a small fraction of the sum
        assert err <= true, (k, err, true)


def test_dgim_sum_weight_one_matches_sliding_count():
    """All-ones weights degenerate to plane 0 == the count histogram:
    the sum estimate must equal streaming_sliding_count's estimate on
    the same event times (same k, same window)."""
    import random

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_dgim_fn,
        _make_dgim_sum_fn,
    )

    rng = random.Random(0xD63)
    uss = sorted(rng.randint(0, 300) for _ in range(200))
    fn_cnt = _make_dgim_fn(80, k=3)
    outs_cnt, _ = _drive_dgim(fn_cnt, [uss])
    fn_sum = _make_dgim_sum_fn(80, k=3, weight_bits=4)
    outs_sum, _ = _drive_dgim_sum(fn_sum, [[(u, 1) for u in uss]])
    assert outs_cnt[-1][0] == outs_sum[-1][0]  # same as_of
    assert outs_cnt[-1][1] == outs_sum[-1][1]  # same estimate


def test_dgim_sum_weight_guard_and_arg_validation(spark):
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_dgim_sum_fn,
        streaming_sliding_sum,
    )

    fn = _make_dgim_sum_fn(100, k=4, weight_bits=4)
    with pytest.raises(ValueError, match="weight"):
        _drive_dgim_sum(fn, [[(1, 16)]])  # 16 >= 2^4
    with pytest.raises(ValueError, match="weight"):
        _drive_dgim_sum(fn, [[(1, -1)]])
    df = spark.range(1).select(
        F.struct(F.lit("t").alias("topic"), F.lit("y").alias("type"))
        .alias("error_key"),
        F.struct(F.current_timestamp().alias("timestamp")).alias("context"),
    )
    with pytest.raises(ValueError, match="weight_bits"):
        streaming_sliding_sum(df, "1", weight_bits=63)
    with pytest.raises(ValueError, match="k must"):
        streaming_sliding_sum(df, "1", k=0)


# ---------------------------------------------------------------------------
# Streaming stratified quota sample


def test_quota_fn_batching_invariant_and_bounded():
    import hashlib
    import random

    import pandas as pd

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_quota_fn,
    )

    rng = random.Random(0x5A11)
    ids = [f"k{rng.randint(0, 400)}" for _ in range(300)]
    rows = [(hashlib.md5(i.encode()).hexdigest(), i) for i in ids]

    def run(splits):
        st = _FakeState()
        fn = _make_quota_fn(10)
        last = None
        for chunk in splits:
            pdf = pd.DataFrame(
                {"h": [h for h, _ in chunk], "id": [i for _, i in chunk]}
            )
            for out in fn(("s",), [pdf], st):
                last = [(r.id, r.sample_rank, r.n) for r in out.itertuples()]
        return last, st._v

    cut = rng.randint(0, len(rows))
    a, sa = run([rows])
    b, sb = run([rows[:cut], rows[cut:]])
    c, sc = run([rows[i:i + 7] for i in range(0, len(rows), 7)])
    assert a == b == c
    assert sa == sb == sc
    assert len(sa[1]) <= 10 and sa[0] == len(rows)
    # reference: bottom-10 of the full multiset by (hash, id)
    want = [i for _, i in sorted(rows)[:10]]
    assert [i for i, _, _ in a] == want


def test_streaming_quota_equals_batch_stratified_quota(spark, tmp_path):
    """The live sample after all micro-batches must equal the batch
    stratified_quota over the same rows — same salted md5 rank, same
    tiebreak, so the twin is exact, not approximate."""
    import random

    from kafka_dead_letter_analyzer_spark.operators.sampling import (
        stratified_quota,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_stratified_quota,
    )

    rng = random.Random(0x5A12)
    rows = [
        (f"s{i % 3}", f"doc{rng.randint(0, 500)}") for i in range(400)
    ]
    schema = "stratum string, doc_id string"
    src = str(tmp_path / "quota_src")
    for i in range(0, 400, 100):  # 4 ordered micro-batch files
        spark.createDataFrame(rows[i:i + 100], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_stratified_quota(
            stream, stratum="stratum", key="doc_id", k=7, salt="tw"
        )
        .writeStream.format("memory")
        .queryName("quota_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        emitted = spark.table("quota_sink").collect()
    finally:
        q.stop()
    # keep each stratum's max-n emission (the upsert consumption model)
    latest: dict = {}
    for r in emitted:
        cur = latest.setdefault(r["stratum"], {})
        if not cur or r["n"] > cur["n"]:
            latest[r["stratum"]] = {
                "n": r["n"], "ids": {(r["id"], r["sample_rank"])}
            }
        elif r["n"] == cur["n"]:
            cur["ids"].add((r["id"], r["sample_rank"]))
    batch = stratified_quota(
        spark.createDataFrame(rows, schema),
        stratum="stratum", key="doc_id", k=7, salt="tw",
    ).collect()
    want: dict = {}
    for r in batch:
        want.setdefault(r["stratum"], set()).add(
            (r["doc_id"], r["sample_rank"])
        )
    got = {s: v["ids"] for s, v in latest.items()}
    assert got == want


# ---------------------------------------------------------------------------
# Streaming ordered funnel


def _drive_funnel(fn, batches):
    import pandas as pd

    st = _FakeState()
    rows = []
    for chunk in batches:
        pdf = pd.DataFrame(
            {"us": [u for u, _ in chunk], "st": [s for _, s in chunk]}
        )
        for out in fn(("u",), [pdf], st):
            rows.extend(
                (int(r.step_idx), r.step, int(r.anchor_us))
                for r in out.itertuples()
            )
    return rows, st._v


def test_funnel_fn_matches_batch_first_touch_randomized(spark):
    """Under ts-ordered arrival the streaming chain's anchors (and
    therefore per-step user counts) must equal the batch
    funnel_steps on the same rows — across random event soups, time
    bounds, and micro-batch splits."""
    import datetime as dt
    import random

    from kafka_dead_letter_analyzer_spark.operators.temporal import (
        funnel_steps,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_funnel_fn,
    )

    rng = random.Random(0xF0FE)
    steps = ["a", "b", "c"]
    epoch = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    for trial in range(4):
        within = rng.choice([None, 40, 120])
        users = {}
        for u in range(40):
            evs = sorted(
                (rng.randint(0, 300), rng.choice(["a", "b", "c", "x"]))
                for _ in range(rng.randint(0, 12))
            )
            users[f"u{u}"] = evs
        # streaming: drive each user's fn over ts-ordered batches
        reached = {}
        for u, evs in users.items():
            fn = _make_funnel_fn(steps, within)
            cut = rng.randint(0, len(evs))
            rows, _ = _drive_funnel(fn, [evs[:cut], evs[cut:]])
            reached[u] = {i for i, _, _ in rows}
        stream_counts = {
            i: sum(1 for v in reached.values() if i in v)
            for i in (1, 2, 3)
        }
        # batch reference on the same rows
        flat = [
            (u, s, epoch + dt.timedelta(seconds=t))
            for u, evs in users.items()
            for t, s in evs
        ]
        df = spark.createDataFrame(
            flat, "user_id string, event_type string, ts timestamp"
        )
        batch = {
            r["step_idx"]: r["users"]
            for r in funnel_steps(
                df, steps,
                within_us=None if within is None else within * 1_000_000,
            ).collect()
        }
        assert stream_counts == batch, (trial, within)


def test_funnel_fn_state_is_k_longs_and_emits_once(spark):
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_funnel_fn,
    )

    fn = _make_funnel_fn(["a", "b"], None)
    rows1, st1 = _drive_funnel(fn, [[(1, "a"), (2, "b"), (3, "b")]])
    assert rows1 == [(1, "a", 1), (2, "b", 2)]
    # replaying more matching events after completion emits nothing
    fn2 = _make_funnel_fn(["a", "b"], None)
    rows2, st2 = _drive_funnel(fn2, [[(1, "a"), (2, "b")], [(5, "a"), (6, "b")]])
    assert rows2 == [(1, "a", 1), (2, "b", 2)]
    assert list(st2[0]) == [1, 2]


def test_streaming_funnel_end_to_end(spark, tmp_path):
    import datetime as dt

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_funnel,
    )

    e = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    days = [
        [("u1", "view", e), ("u2", "view", e)],
        [("u1", "click", e + dt.timedelta(minutes=1))],
        [("u1", "buy", e + dt.timedelta(minutes=2)),
         ("u2", "buy", e + dt.timedelta(minutes=3))],  # u2 skipped click
    ]
    schema = "user_id string, event_type string, ts timestamp"
    src = str(tmp_path / "funnel_src")
    for batch in days:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_funnel(stream, ["view", "click", "buy"])
        .writeStream.format("memory")
        .queryName("funnel_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["k"], r["step_idx"], r["step"])
            for r in spark.table("funnel_sink").collect()
        )
    finally:
        q.stop()
    assert got == [
        ("u1", 1, "view"), ("u1", 2, "click"), ("u1", 3, "buy"),
        ("u2", 1, "view"),
    ]


def test_streaming_sliding_sum_end_to_end(spark, tmp_path):
    """Real Structured Streaming run of the bit-plane DGIM sum: wiring
    (error_key/context + weight expr), update-mode emission, and the
    exact-regime equality with the true trailing sum."""
    import datetime as dt

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_sliding_sum,
    )

    epoch = dt.datetime(2024, 7, 1, tzinfo=dt.timezone.utc)
    batches = [
        [(0, 5), (60, 9)],           # seconds offset, weight
        [(120, 3), (4000, 7)],       # 4000s later: first two expire
    ]
    schema = (
        "error_key struct<topic:string,type:string>,"
        " context struct<timestamp:timestamp>, w long"
    )
    src = str(tmp_path / "dgim_sum_src")
    for batch in batches:
        rows = [
            (("t", "E"), (epoch + dt.timedelta(seconds=off),), w)
            for off, w in batch
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_sliding_sum(
        stream, weight_expr="w", window_us=3_600_000_000, k=100
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dgim_sum_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = sorted(
            (r["as_of_us"], r["est_sum"], r["err_bound"])
            for r in spark.table("dgim_sum_sink").collect()
        )
    finally:
        q.stop()
    base_us = int(epoch.timestamp()) * 1_000_000
    # batch 1: window holds 5+9 = 14; batch 2: as-of 4000s — the hour
    # window (3600s) keeps only 3 (t=120 is 3880s old -> out; only
    # t=4000's 7... wait: window is (as_of - 3600s, as_of]: t=120 at
    # 3880s before as_of is OUT, t=4000 itself IN -> 7
    assert rows[0] == (base_us + 60_000_000, 14, 0)
    assert rows[-1] == (base_us + 4_000_000_000, 7, 0)


# ---------------------------------------------------------------------------
# Streaming scorer audit


def _drive_audit(fn, batches):
    import pandas as pd

    st = _FakeState()
    last = None
    for chunk in batches:
        pdf = pd.DataFrame(
            {"s": [s for s, _ in chunk], "y": [y for _, y in chunk]}
        )
        for out in fn(("g",), [pdf], st):
            last = out.iloc[0]
    return last, st


def test_scorer_audit_fn_matches_batch_randomized(spark):
    """Round-9 (r8 VERDICT #6): after ANY micro-batch split and
    arrival order, the audit's emission must equal the batch family
    on the same rows — auc_exact's (u2-derived) auc_ppm and
    x_f1_threshold's exact selection rule over roc_curve_points."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.operators import ranking as R
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_scorer_audit_fn,
    )

    rng = random.Random(0x5CA9)
    for trial in range(3):
        rows = [
            (rng.randint(0, 30), rng.random() < 0.4)
            for _ in range(rng.randint(50, 300))
        ]
        rng.shuffle(rows)
        cuts = sorted(rng.sample(range(len(rows)), 2))
        batches = [
            rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]
        ]
        last, st = _drive_audit(_make_scorer_audit_fn(100_000), batches)

        df = spark.createDataFrame(rows, "s bigint, y boolean")
        auc = R.auc_exact(df, "s", "y").collect()[0]
        assert int(last["auc_ppm"]) == auc["auc_ppm"], trial
        assert (int(last["n_pos"]), int(last["n_neg"])) == (
            auc["n_pos"], auc["n_neg"]
        ), trial
        curve = R.roc_curve_points(df, "s", "y")
        scored = curve.withColumn(
            "f1_ppm",
            F.expr(
                "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE"
                " ((2 * tp * 1000) DIV (2 * tp + fp + fn)) * 1000"
                " + (((2 * tp * 1000) % (2 * tp + fp + fn)) * 1000)"
                " DIV (2 * tp + fp + fn) END AS BIGINT)"
            ),
        )
        best = (
            scored.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy(F.lit(1)).orderBy(
                        F.desc("f1_ppm"), F.asc("s")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .collect()[0]
        )
        assert (
            int(last["threshold"]),
            int(last["tp"]),
            int(last["fp"]),
            int(last["fn"]),
            int(last["f1_ppm"]),
        ) == (best["s"], best["tp"], best["fp"], best["fn"],
              best["f1_ppm"]), trial
        # state is the exact sorted contraction
        ss, ps, ns = st._v
        assert list(ss) == sorted(set(s for s, _ in rows))


def test_scorer_audit_fn_single_class_and_caps():
    import pytest as pt

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_scorer_audit_fn,
    )

    # all-positive: auc undefined (null), threshold still selected
    last, _ = _drive_audit(
        _make_scorer_audit_fn(100), [[(1, True), (2, True)]]
    )
    import pandas as pd

    assert pd.isna(last["auc_ppm"])
    assert int(last["threshold"]) == 1  # tie at f1: lowest threshold
    assert int(last["f1_ppm"]) == 1_000_000  # tp=2 fp=0 fn=0
    with pt.raises(ValueError, match="max_scores"):
        _drive_audit(
            _make_scorer_audit_fn(2),
            [[(1, True), (2, False), (3, True)]],
        )


def test_scorer_audit_overflow_guard_raises():
    import pandas as pd
    import pytest as pt

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_scorer_audit_fn,
    )

    fn = _make_scorer_audit_fn(10)
    st = _FakeState()
    big = 1 << 40
    st.update(([5, 6], [big, 0], [0, big]))
    pdf = pd.DataFrame({"s": [5], "y": [True]})
    with pt.raises(ValueError, match="shard"):
        list(fn(("g",), [pdf], st))


def test_streaming_scorer_audit_end_to_end(spark, tmp_path):
    from kafka_dead_letter_analyzer_spark.operators import ranking as R
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_scorer_audit,
    )

    import random

    rng = random.Random(0x5CAA)
    rows = [
        ("a" if i % 2 else "b", rng.randint(0, 9), rng.random() < 0.5)
        for i in range(120)
    ]
    schema = "src string, score bigint, label boolean"
    src = str(tmp_path / "audit_src")
    third = len(rows) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : None if i == 2 else (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_scorer_audit(
            stream, "score", "label", group_col="src"
        )
        .writeStream.format("memory")
        .queryName("audit_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT * FROM audit_sink ORDER BY n"
    ).collect()
    # keep the max-n row per group (the upsert consumption model)
    final = {}
    for r in out:
        final[r["group_key"]] = r
    df = spark.createDataFrame(rows, schema)
    for g in ("a", "b"):
        sub = df.filter(F.col("src") == g)
        auc = R.auc_exact(sub, "score", "label").collect()[0]
        got = final[g]
        assert got["auc_ppm"] == auc["auc_ppm"], g
        assert got["n"] == auc["n_pos"] + auc["n_neg"], g


def test_streaming_scorer_audit_survives_uncastable_rows(spark, tmp_path):
    """Round-9 review: a string score that casts to NULL must be
    filtered AFTER the cast — not crash the long-running query as a
    NaN inside the stateful fn — and an uncastable label must not be
    silently counted as a class member."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_scorer_audit,
    )

    rows = [
        ("g", "3", True), ("g", "abc", True), ("g", "5", False),
        ("g", None, True), ("g", "7", True),
    ]
    schema = "src string, score string, label boolean"
    src = str(tmp_path / "audit_poison")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming_scorer_audit(stream, "score", "label", group_col="src")
        .writeStream.format("memory")
        .queryName("audit_poison_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM audit_poison_sink").collect()
    assert len(out) == 1
    r = out[0]
    # only the 3 castable rows count: scores 3,7 pos / 5 neg
    assert (r["n"], r["n_pos"], r["n_neg"]) == (3, 2, 1)


# ---------------------------------------------------------------------------
# Streaming Bloom-state dedup


def test_bloom_dedup_fn_never_emits_a_key_twice():
    """Structural guarantee: bits only accumulate, so even a 1-word
    (FP-saturated) bitmap can only OVER-drop — a key must never be
    emitted twice across any batch sequence."""
    import pandas as pd

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_bloom_dedup_fn,
    )

    import random

    rng = random.Random(0xBDD1)
    for words in (1, 1024):
        fn = _make_bloom_dedup_fn("k", 4, words, ["k"])
        st = _FakeState()
        emitted = []
        stream = [
            [f"k{rng.randint(0, 30)}" for _ in range(40)]
            for _ in range(4)
        ]
        for chunk in stream:
            for out in fn((0,), [pd.DataFrame({"k": chunk})], st):
                emitted.extend(out["k"])
        assert len(emitted) == len(set(emitted)), words
        if words == 1024:
            # exact regime: every distinct key admitted exactly once
            assert set(emitted) == {k for chunk in stream for k in chunk}
        ws, n_seen, n_dropped, bits_set = st._v
        assert len(ws) == words  # state size is FIXED
        total = sum(len(c) for c in stream)
        assert n_seen + n_dropped == total
        assert n_seen == len(emitted)
        # incremental popcount in state == true popcount of the bitmap
        assert bits_set == sum(bin(w).count("1") for w in ws)


def test_bloom_dedup_fill_col_surfaces_saturation():
    """r9 VERDICT #1 done-condition: a deliberately undersized bitmap's
    emitted fill crosses the documented ~30% alert bound while the
    no-double-emit structural guarantee still holds; a comfortably
    sized bitmap stays far below it.  Also pins the fill_col value to
    the exact state popcount (ppm, floor division)."""
    import pandas as pd

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_bloom_dedup_fn,
    )

    import random

    rng = random.Random(0xF111)
    stream = [
        [f"doc{rng.randint(0, 4000)}" for _ in range(500)]
        for _ in range(4)
    ]
    for words, expect_saturated in ((4, True), (4096, False)):
        fn = _make_bloom_dedup_fn("k", 4, words, ["k"], fill_col="fill_ppm")
        st = _FakeState()
        emitted, fills = [], []
        for chunk in stream:
            for out in fn((0,), [pd.DataFrame({"k": chunk})], st):
                emitted.extend(out["k"])
                fills.extend(out["fill_ppm"])
        assert len(emitted) == len(set(emitted)), words  # structural
        ws, n_seen, n_dropped, bits_set = st._v
        m = 63 * words
        # final emitted fill == exact popcount ppm of the final bitmap
        assert fills[-1] == (bits_set * 1_000_000) // m
        # fill is monotone non-decreasing (bits only accumulate)
        assert fills == sorted(fills)
        crossed = max(fills) > 300_000  # documented ~1% FP alert bound
        assert crossed == expect_saturated, (words, max(fills))


def test_streaming_dedup_bloom_end_to_end_matches_first_seen(spark, tmp_path):
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_dedup_bloom,
    )

    batches = [
        [("d1", "alpha"), ("d2", "beta"), ("d1", "alpha-copy")],
        [("d3", "gamma"), ("d2", "beta-copy")],
        [("d4", "delta"), ("d1", "alpha-copy2"), ("d5", "eps")],
    ]
    schema = "doc_id string, text string"
    src = str(tmp_path / "bdd_src")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_dedup_bloom(stream, "doc_id", num_words=4096)
        .writeStream.format("memory")
        .queryName("bdd_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT doc_id FROM bdd_sink").collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == ["d1", "d2", "d3", "d4", "d5"]
    import pytest as pt

    with pt.raises(ValueError, match="num_hashes"):
        streaming_dedup_bloom(stream, "doc_id", num_hashes=0)
    with pt.raises(ValueError, match="collides"):
        streaming_dedup_bloom(stream, "doc_id", fill_col="text")
    # fill_col variant: schema gains the ppm column end-to-end, values
    # sane (exact regime: 5 keys x 4 hashes <= 20 bits of 4096*63)
    q2 = (
        streaming_dedup_bloom(
            stream, "doc_id", num_words=4096, fill_col="fill_ppm"
        )
        .writeStream.format("memory")
        .queryName("bdd_fill_sink")
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.sql(
        "SELECT doc_id, fill_ppm FROM bdd_fill_sink"
    ).collect()
    assert sorted(r["doc_id"] for r in rows) == ["d1", "d2", "d3", "d4", "d5"]
    assert all(0 < r["fill_ppm"] < 1000 for r in rows)


# ---------------------------------------------------------------------------
# Streaming sessionized funnel


def _drive_session_funnel(fn, batches):
    import pandas as pd

    st = _FakeState()
    rows = []
    for chunk in batches:
        pdf = pd.DataFrame(
            {"us": [u for u, _ in chunk], "st": [s for _, s in chunk]}
        )
        for out in fn(("u",), [pdf], st):
            rows.extend(
                (int(r.sess), int(r.step_idx), r.step, int(r.anchor_us))
                for r in out.itertuples()
            )
    return rows, st._v


def test_session_funnel_fn_matches_batch_sessionized_randomized(spark):
    """r9 VERDICT #3 done-condition: under ts-ordered arrival the
    per-step distinct-session counts from the streaming operator must
    equal funnel_steps_sessionized on the same rows — across random
    soups, gaps, time bounds, and micro-batch splits."""
    import datetime as dt
    import random

    from kafka_dead_letter_analyzer_spark.operators.temporal import (
        funnel_steps_sessionized,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_session_funnel_fn,
    )

    rng = random.Random(0x5E5F)
    steps = ["a", "b", "c"]
    epoch = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    for trial in range(3):
        gap_s = rng.choice([30, 90])
        within = rng.choice([None, 40])
        users = {
            f"u{u}": sorted(
                (rng.randint(0, 600), rng.choice(["a", "b", "c", "x"]))
                for _ in range(rng.randint(0, 15))
            )
            for u in range(30)
        }
        stream_counts = {1: 0, 2: 0, 3: 0}
        for u, evs in users.items():
            fevs = [(t * 1_000_000, s) for t, s in evs if s in steps]
            fn = _make_session_funnel_fn(
                steps, gap_s * 1_000_000,
                None if within is None else within * 1_000_000,
            )
            cut = rng.randint(0, len(fevs))
            rows, st = _drive_session_funnel(fn, [fevs[:cut], fevs[cut:]])
            # emit-once per (sess, step)
            assert len(rows) == len({(s, i) for s, i, _, _ in rows})
            for _, i, _, _ in rows:
                stream_counts[i] += 1
            # bounded state: k anchors + last_us + sess
            if fevs:
                anchors, last_us, sess = st
                assert len(anchors) == 3
                assert last_us == max(u for u, _ in fevs)
                assert sess >= 1
        flat = [
            (u, s, epoch + dt.timedelta(seconds=t))
            for u, evs in users.items()
            for t, s in evs
        ]
        if not flat:
            continue
        df = spark.createDataFrame(
            flat, "user_id string, event_type string, ts timestamp"
        )
        batch = {
            r["step_idx"]: r["sessions"]
            for r in funnel_steps_sessionized(
                df, steps, gap_us=gap_s * 1_000_000,
                within_us=None if within is None else within * 1_000_000,
            ).collect()
        }
        assert stream_counts == batch, (trial, gap_s, within)


def test_session_funnel_fn_resets_anchors_per_session():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_session_funnel_fn,
    )

    fn = _make_session_funnel_fn(["a", "b"], 10, None)
    rows, st = _drive_session_funnel(
        fn,
        [
            [(1, "a"), (2, "b")],          # session 1 completes
            [(100, "a")],                  # gap > 10 -> session 2
            [(105, "b"), (106, "a")],      # session 2 completes; extra a
        ],
    )
    assert rows == [
        (1, 1, "a", 1), (1, 2, "b", 2),
        (2, 1, "a", 100), (2, 2, "b", 105),
    ]
    anchors, last_us, sess = st
    assert (list(anchors), last_us, sess) == ([100, 105], 106, 2)
    # a within bound applies INSIDE the session only
    fn2 = _make_session_funnel_fn(["a", "b"], 1000, 3)
    rows2, _ = _drive_session_funnel(
        fn2, [[(1, "a"), (10, "b"), (11, "a"), (13, "b")]]
    )
    # first b misses the 3us bound; second a can't re-anchor (first-
    # touch), so only step 1 emits in the single session
    assert rows2 == [(1, 1, "a", 1)]


def test_streaming_funnel_sessions_end_to_end(spark, tmp_path):
    import datetime as dt

    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_funnel_sessions,
    )

    e = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    m = dt.timedelta(minutes=1)
    batches = [
        [("u1", "view", e), ("u2", "view", e)],
        [("u1", "click", e + m)],
        # 2h later: u1's new session (view only), u2 clicks 3 minutes
        # into their original session (within the default 30min gap)
        [("u1", "view", e + dt.timedelta(hours=2)),
         ("u2", "click", e + 3 * m)],
    ]
    schema = "user_id string, event_type string, ts timestamp"
    src = str(tmp_path / "sfunnel_src")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_funnel_sessions(stream, ["view", "click"])
        .writeStream.format("memory")
        .queryName("sfunnel_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["k"], r["sess"], r["step_idx"], r["step"])
            for r in spark.table("sfunnel_sink").collect()
        )
    finally:
        q.stop()
    assert got == [
        ("u1", 1, 1, "view"), ("u1", 1, 2, "click"),
        ("u1", 2, 1, "view"),
        ("u2", 1, 1, "view"), ("u2", 1, 2, "click"),
    ]
    import pytest as pt

    with pt.raises(ValueError, match="gap_us"):
        streaming_funnel_sessions(stream, ["view", "click"], gap_us=-5)


# ---------------------------------------------------------------------------
# Streaming rater agreement (live kappa twin)
# ---------------------------------------------------------------------------


def _drive_agreement(fn, batches):
    import pandas as pd

    st = _FakeState()
    last = None
    for chunk in batches:
        pdf = pd.DataFrame(
            {"a": [a for a, _ in chunk], "b": [b for _, b in chunk]}
        )
        for out in fn(("g",), [pdf], st):
            last = out.iloc[0]
    return last, st


def test_rater_agreement_fn_matches_batch_randomized(spark):
    """After ANY micro-batch split, the live emission must equal
    batch cohens_kappa on the same rows — the contingency contraction
    is a commutative fold, so arrival order and batch boundaries
    cannot matter."""
    import random

    from kafka_dead_letter_analyzer_spark.operators import ranking as R
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_rater_agreement_fn,
    )

    rng = random.Random(0xA6EE)
    cats = ["en", "de", "fr", "und"]
    for _ in range(3):
        rows = [
            (rng.choice(cats), rng.choice(cats))
            for _ in range(rng.randint(40, 200))
        ]
        cuts = sorted(rng.sample(range(1, len(rows)), 2))
        batches = [
            rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]
        ]
        last, _ = _drive_agreement(
            _make_rater_agreement_fn(100_000), batches
        )
        want = R.cohens_kappa(
            spark.createDataFrame(rows, "ra string, rb string"),
            "ra",
            "rb",
        ).collect()[0]
        assert (
            last["n"], last["agree"], last["po_ppm"], last["pe_ppm"]
        ) == (want["n"], want["agree"], want["po_ppm"], want["pe_ppm"])


def test_rater_agreement_fn_caps_raise():
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        _make_rater_agreement_fn,
    )

    with pytest.raises(ValueError, match="max_cells"):
        _drive_agreement(
            _make_rater_agreement_fn(2),
            [[("a", "a"), ("a", "b"), ("b", "a")]],
        )


def test_streaming_rater_agreement_end_to_end(spark, tmp_path):
    """File-source e2e across three triggers: the max-n row per group
    equals grouped batch cohens_kappa over all rows; NULL labels are
    excluded like the batch contract."""
    import random

    from kafka_dead_letter_analyzer_spark.operators import ranking as R
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_rater_agreement,
    )

    rng = random.Random(0xA6EF)
    cats = ["en", "de", "fr"]
    rows = [
        (
            "a" if i % 2 else "b",
            rng.choice(cats),
            rng.choice(cats + [None]),
        )
        for i in range(150)
    ]
    schema = "src string, ra string, rb string"
    src = str(tmp_path / "agree_src")
    third = len(rows) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : None if i == 2 else (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_rater_agreement(stream, "ra", "rb", group_col="src")
        .writeStream.format("memory")
        .queryName("agree_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {}
    for r in spark.sql("SELECT * FROM agree_sink ORDER BY n").collect():
        final[r["group_key"]] = r
    batch = {
        r["src"]: r
        for r in R.cohens_kappa(
            spark.createDataFrame(rows, schema),
            "ra",
            "rb",
            group_cols=["src"],
        ).collect()
    }
    for g in ("a", "b"):
        got, want = final[g], batch[g]
        assert (
            got["n"], got["agree"], got["po_ppm"], got["pe_ppm"]
        ) == (want["n"], want["agree"], want["po_ppm"], want["pe_ppm"]), g


def test_streaming_corpus_eval_end_to_end(spark, tmp_path):
    """File-source e2e across three triggers: the max-n_pairs row per
    group is BIT-EQUAL to batch corpus_eval_rollup(bleu_stats(...))
    over all rows — pair stats split across micro-batches fold
    commutatively; NULL ids excluded, NULL texts = empty (counted)."""
    import random

    from kafka_dead_letter_analyzer_spark.operators import text as TX
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_corpus_eval,
    )

    rng = random.Random(0xC0E)
    vocab = ["the", "cat", "sat", "on", "mat", "dog", "ran", "a"]
    rows = [
        (
            i,
            "g1" if i % 2 else "g2",
            " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
            if i % 7
            else None,
            " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
            if i % 5
            else None,
        )
        for i in range(90)
    ] + [(None, "g1", "x y", "x y")]
    schema = "pair_id long, src string, candidate string, reference string"
    srcdir = str(tmp_path / "ce_src")
    third = 30
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : None if i == 2 else (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(srcdir)
    stream = spark.readStream.schema(
        spark.read.parquet(srcdir).schema
    ).option("maxFilesPerTrigger", 1).parquet(srcdir)
    q = (
        streaming_corpus_eval(stream, max_n=4, group_col="src")
        .writeStream.format("memory")
        .queryName("ce_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {}
    for r in spark.sql(
        "SELECT * FROM ce_sink ORDER BY n_pairs"
    ).collect():
        final[r["group_key"]] = r
    batch_df = spark.createDataFrame(rows, schema)
    batch = {
        r["src"]: r
        for r in TX.corpus_eval_rollup(
            TX.bleu_stats(batch_df, max_n=4, group_cols=("src",)),
            group_cols=("src",),
        ).collect()
    }
    stat_cols = (
        ["n_pairs", "cand_len", "ref_len"]
        + [f"clipped_{n}" for n in range(1, 5)]
        + [f"total_{n}" for n in range(1, 5)]
        + [f"ref_total_{n}" for n in range(1, 5)]
    )
    for g in ("g1", "g2"):
        got, want = final[g], batch[g]
        assert tuple(got[c] for c in stat_cols) == tuple(
            want[c] for c in stat_cols
        ), g
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_n"):
        streaming_corpus_eval(batch_df, max_n=0)


def test_streaming_corpus_rouge_l_end_to_end(spark, tmp_path):
    """File-source e2e across three triggers: the max-n_pairs row per
    group is BIT-EQUAL to batch corpus_eval_rollup(rouge_l_stats(...))
    over all rows — the shared _lcs_capped row kernel plus commutative
    int64 sums make the twin exact, including the truncation count
    under a small max_tokens cap."""
    import random

    from kafka_dead_letter_analyzer_spark.operators import text as TX
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_corpus_rouge_l,
    )

    rng = random.Random(0x20125)
    vocab = ["the", "cat", "sat", "on", "mat", "dog", "ran", "a"]
    rows = [
        (
            i,
            "g1" if i % 2 else "g2",
            " ".join(rng.choices(vocab, k=rng.randint(0, 40)))
            if i % 7
            else None,
            " ".join(rng.choices(vocab, k=rng.randint(0, 40)))
            if i % 5
            else None,
        )
        for i in range(90)
    ] + [(None, "g1", "x y", "x y")]
    schema = "pair_id long, src string, candidate string, reference string"
    srcdir = str(tmp_path / "cr_src")
    third = 30
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : None if i == 2 else (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(srcdir)
    stream = spark.readStream.schema(
        spark.read.parquet(srcdir).schema
    ).option("maxFilesPerTrigger", 1).parquet(srcdir)
    # max_tokens=16: plenty of pairs exceed it, exercising the
    # truncation path on BOTH sides of the equality
    q = (
        streaming_corpus_rouge_l(stream, group_col="src", max_tokens=16)
        .writeStream.format("memory")
        .queryName("cr_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {}
    for r in spark.sql(
        "SELECT * FROM cr_sink ORDER BY n_pairs"
    ).collect():
        final[r["group_key"]] = r
    batch_df = spark.createDataFrame(rows, schema)
    stats = TX.rouge_l_stats(
        batch_df, max_tokens=16, group_cols=("src",)
    )
    batch = {
        r["src"]: r
        for r in TX.corpus_eval_rollup(
            stats.withColumn(
                "n_truncated", F.col("truncated").cast("bigint")
            ).drop("truncated"),
            group_cols=("src",),
        ).collect()
    }
    stat_cols = [
        "n_pairs", "cand_len", "ref_len", "lcs_len", "n_truncated",
    ]
    for g in ("g1", "g2"):
        got, want = final[g], batch[g]
        assert tuple(got[c] for c in stat_cols) == tuple(
            want[c] for c in stat_cols
        ), g
    assert any(batch[g]["n_truncated"] > 0 for g in ("g1", "g2"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_tokens"):
        streaming_corpus_rouge_l(batch_df, max_tokens=0)
    with _pytest.raises(ValueError, match="escalations"):
        streaming_corpus_rouge_l(batch_df, escalations=9)


def test_streaming_hash64_near_dup_converges_to_batch(spark, tmp_path):
    """r13: the fingerprint-index twin — after any micro-batch split
    the emitted pair set equals the batch banded self-join over the
    distinct fingerprints seen, with new_id the later arrival;
    within-batch pairs, cross-batch pairs, once-only emission across
    multiple matching bands (hamming 0 matches in EVERY band), sign-
    bit hashes, and re-submitted ids are all exercised."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import (
        hash64_hamming_pairs,
    )
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        streaming_hash64_near_dup,
    )

    mk = lambda h: h - (1 << 64) if h >= 1 << 63 else h
    base = 0xDEADBEEF12345678
    rows = [
        (1, mk(base)),
        (2, mk(base ^ 1)),            # within-batch pair with 1
        (3, mk(base ^ (0b111 << 40))),  # hamming 3 from 1
        (10, mk(0x0F0F0F0F0F0F0F0F)),   # unrelated
    ]
    rows2 = [
        (4, mk(base)),                # hamming 0 vs 1 (all bands match)
        (2, mk(base ^ 1)),            # re-submitted id: ignored
        (11, mk(0xF0F0F0F0F0F0F0F0)),  # unrelated, sign bit set
    ]
    src = str(tmp_path / "fps")
    spark.createDataFrame(rows, "id long, h long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("id long, h long").parquet(src)
    q = (
        streaming_hash64_near_dup(stream, max_hamming=3)
        .writeStream.format("memory")
        .queryName("h64dup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            rows2, "id long, h long"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = [
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in spark.table("h64dup").collect()
    ]
    # once-only even for multi-band matches
    assert len(emitted) == len(set(emitted))
    got = {(min(a, b), max(a, b), d) for a, b, d in emitted}
    distinct = {r for r in rows + rows2}
    batch = spark.createDataFrame(
        sorted(distinct), "id long, h long"
    )
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hash64_hamming_pairs(
            batch, "id", "h", max_hamming=3
        ).collect()
    }
    assert got == want and len(want) >= 4
    # arrival orientation: the batch-2 arrival 4 is new vs corpus 1
    assert (4, 1, 0) in set(emitted)
    from kafka_dead_letter_analyzer_spark import cache_registry
    cache_registry.release_all()
