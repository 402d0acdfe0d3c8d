"""``stream_avro_backlog``: a closed loop draining one pre-written backlog.

The wiring reproduces ``cli.run_streaming`` with a file source standing in
for Kafka (no broker or spark-sql-kafka jar is needed): a parquet directory
in the Kafka source's fixed schema, read with ``readStream``, decoded by
``decode_kafka_records``, analysed by ``build_streaming_topology``, and the
four outputs each projected by ``kafka_sink_projection`` into a sink, as
four queries that run together.

Each drain starts the four queries on fresh checkpoints over the same
backlog and waits until all of them have committed it. The first drain
collects the outputs for the content check and warms the JVM and the
Python workers; the timed drains, on the same session, write to ``noop``
and are checked by the rows each micro-batch emitted. The set-up comes
first, before the input is generated: from process start, JVM launch
included, until the four queries have started on an empty directory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import check
import gen
import harness
from spans import Tracer

SPEC = gen.Spec(
    records=3000, files=4, dialects={"avro": 1}, topics=8, types=300, frames=40,
    malformed=0.005, null_trace=0.01, span_ms=3_600_000, wire=True,
)
MIN_REPEATS = 2  # timed drains per run at least
OUTPUTS = (
    ("full", "full_dead_letters", "append"),
    ("stats", "error_statistics", "update"),
    ("examples", "error_examples", "update"),
    ("errors", "error_topic", "append"),
)
# declared per-layer metrics of layers this workload does not run
OFF_PATH = ("cli.run_batch.", "operators.drift.")


def _collector(name: str, store: dict):
    """foreachBatch sink keeping the fields the check compares."""

    def j(path):
        return F.get_json_object("value", path)

    cols = {
        "full": [j("$.type")],
        "stats": [j("$.count"), j("$.created"), j("$.updated")],
        "examples": [j("$.example.key"), j("$.example.offset"),
                     j("$.example.partition"), j("$.example.timestamp"),
                     j("$.example.dead_letter.description")],
        "errors": [j("$.description"), j("$.cause.error_class"), j("$.cause.message")],
    }[name]

    def sink(df, _batch_id):
        store[name].extend(tuple(r) for r in df.select("key", *cols).collect())

    return sink


def _normalise(store: dict) -> dict:
    return {
        "full": {k: t for k, t in store["full"]},
        "stats": {k: {"count": int(c), "created": a, "updated": b}
                  for k, c, a, b in store["stats"]},
        "examples": {k: [ek, int(off), int(part), ts, desc]
                     for k, ek, off, part, ts, desc in store["examples"]},
        "errors": Counter(json.dumps([k, d, c, m]) for k, d, c, m in store["errors"]),
    }


def start(spark, src: str, ck: str, tracer: Tracer, store: dict | None = None):
    """The ``cli.run_streaming`` wiring over the file stand-in."""
    from kafka_dead_letter_analyzer_spark.streaming.engine import (
        build_streaming_topology,
    )
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        decode_kafka_records,
        kafka_sink_projection,
    )

    raw = spark.readStream.schema(harness.KAFKA_DDL).parquet(src)
    with tracer.span("streaming.kafka.decode_kafka_records"):
        decoded = decode_kafka_records(raw)
    with tracer.span("streaming.engine.build_streaming_topology"):
        topo = build_streaming_topology(decoded)
    queries = []
    for name, attr, mode in OUTPUTS:
        with tracer.span("streaming.kafka.kafka_sink_projection", output=name):
            out = kafka_sink_projection(getattr(topo, attr))
        w = (out.writeStream.outputMode(mode).queryName(name)
             .option("checkpointLocation", os.path.join(ck, name)))
        w = w.format("noop") if store is None else w.foreachBatch(_collector(name, store))
        with tracer.span("streaming.query.start", output=name):
            queries.append(w.start())
    return queries


class _ProgressSpans(StreamingQueryListener):
    """Query listener turning each StreamingQueryProgress into a span."""

    def __init__(self, tracer: Tracer, parent: int):
        self.tracer, self.parent = tracer, parent

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        d = dict(p.durationMs)
        self.tracer.add(f"streaming.query.{p.name}.batch", start,
                        start + d.get("triggerExecution", 0) / 1000, self.parent,
                        batch=p.batchId, input_rows=p.numInputRows,
                        output_rows=p.sink.numOutputRows, **d)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _drain(spark, src: str, ck: str, tracer: Tracer, store=None) -> dict:
    """Start the four queries on fresh checkpoints and wait until each has
    committed the whole backlog."""
    shutil.rmtree(ck, ignore_errors=True)
    # the session's stage list also holds earlier drains' shuffles
    shuffle0 = harness.shuffle_write_bytes(spark) if tracer.enabled else 0
    with tracer.span("drain") as rnd:
        listener = None
        if rnd is not None:
            listener = _ProgressSpans(tracer, rnd["id"])
            spark.streams.addListener(listener)
        queries = start(spark, src, ck, tracer, store)
        ready = time.perf_counter()
        for q in queries:
            q.processAllAvailable()
        done = time.perf_counter()
        progress = {q.name: [json.loads(p.json) for p in q.recentProgress] for q in queries}
        shuffle = harness.shuffle_write_bytes(spark) - shuffle0 if rnd is not None else 0
        for q in queries:
            q.stop()
        if listener is not None:
            spark.streams.removeListener(listener)
    return {"drain_s": done - ready, "progress": progress,
            "shuffle_write_bytes": shuffle}


def _setup(empty: str, ck: str, tracer: Tracer) -> tuple[float, object]:
    """The set-up: session, wiring and the four queries started (on an
    empty directory, so they do no work); returns (seconds since process
    start, session)."""
    spark = harness.fresh_session(tracer)
    queries = start(spark, empty, ck, tracer)
    ready = harness.since_process_start()
    for q in queries:
        q.stop()
    return ready, spark


def _progress_check(truth: dict, files: list[str], ck: str, progress: dict):
    index = {os.path.basename(f): i for i, f in enumerate(files)}
    batches = {}
    for name, _, _ in OUTPUTS:
        by_batch = harness.batch_files(os.path.join(ck, name), index)
        rows = {p["batchId"]: p["sink"]["numOutputRows"] for p in progress[name]}
        batches[name] = [(fs, rows.get(b, -1)) for b, fs in sorted(by_batch.items())]
    return check.compare_batch_rows(truth, batches)


def _query_layers(progress: dict) -> dict:
    m = {}
    for name, _, _ in OUTPUTS:
        ps = [p for p in progress[name] if p["numInputRows"] > 0]
        d = [p["durationMs"] for p in ps]
        m[f"streaming.query.{name}.batches"] = len(ps)
        m[f"streaming.query.{name}.planning_ms"] = sum(x.get("queryPlanning", 0) for x in d)
        m[f"streaming.query.{name}.add_batch_ms"] = sum(x.get("addBatch", 0) for x in d)
        m[f"streaming.query.{name}.commit_ms"] = sum(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) + x.get("commitBatch", 0)
            for x in d)
        m[f"streaming.query.{name}.rows_out"] = sum(p["sink"]["numOutputRows"] for p in ps)
    for name in ("stats", "examples"):
        ops = [p["stateOperators"][0] for p in progress[name] if p.get("stateOperators")]
        last = ops[-1] if ops else {}
        m[f"streaming.engine.{name}.state_rows"] = last.get("numRowsTotal", 0)
        m[f"streaming.engine.{name}.state_bytes"] = last.get("memoryUsedBytes", 0)
        m[f"streaming.engine.{name}.state_update_ms"] = sum(
            o.get("allUpdatesTimeMs", 0) for o in ops)
        m[f"streaming.engine.{name}.state_commit_ms"] = sum(
            o.get("commitTimeMs", 0) for o in ops)
    return m


def _in_setup(tracer: Tracer, name: str, calls: int = 1) -> float:
    """Time of the set-up's calls of a span: the first ``calls`` of that
    name (the traced drains record more)."""
    return sum(tracer.durations(name)[:calls])


def run(work: str, seed: int, seconds: float, trace: bool, rss: harness.RssSampler):
    """Returns ``(attempted, failed, notes, end-to-end metrics, per-layer
    metrics, tracer, round timings)``."""
    empty = os.path.join(work, "empty")
    os.makedirs(empty, exist_ok=True)
    ck = os.path.join(work, "ck")
    off = Tracer(False)
    tracer = Tracer(trace)

    setup_s, spark = _setup(empty, ck, tracer)
    files, truth = gen.write(SPEC, seed, os.path.join(work, "input"))
    src = os.path.dirname(files[0])

    # untimed: collect every output for the content check; warms the JVM
    # and the Python workers for the timed drains on the same session
    store = {name: [] for name, _, _ in OUTPUTS}
    _drain(spark, src, ck, off, store)
    # a foreachBatch sink reports no row counts: the content check covers it
    failed, notes = check.compare_outputs(truth, _normalise(store))

    rss.on.set()
    drains, t_start = [], time.perf_counter()
    while len(drains) < MIN_REPEATS or time.perf_counter() - t_start < seconds:
        # the traced run alternates: untraced drains give the overhead base
        traced = trace and len(drains) % 2 == 1
        r = _drain(spark, src, ck, tracer if traced else off)
        r["traced"] = traced
        bad, more = _progress_check(truth, files, ck, r["progress"])
        failed += bad
        notes += more
        drains.append(r)
    rss.on.clear()

    attempted = SPEC.records * (1 + len(drains))
    plain = [r for r in drains if not r["traced"]]
    base = statistics.median([r["drain_s"] for r in plain])
    metrics = {
        "setup_s": setup_s,
        "throughput_rps": SPEC.records / base,
    }
    timings = {"drain_s": [r["drain_s"] for r in drains]}
    if not trace:
        return attempted, failed, notes, metrics, {}, tracer, timings

    # per-layer figures: from the traced drains, the prefix runs and a
    # single-core drain of the same backlog
    traced = [r for r in drains if r["traced"]]
    layer = {
        "session.get_spark_s": _in_setup(tracer, "session.get_spark"),
        "bench.python_workers_peak_mb": rss.workers_peak_kb / 1024,
        "bench.jvm_peak_rss_mb": rss.jvm_peak_kb / 1024,
        "streaming.kafka.decode_build_s":
            _in_setup(tracer, "streaming.kafka.decode_kafka_records"),
        "plans.topology.build_s":
            _in_setup(tracer, "streaming.engine.build_streaming_topology"),
        "streaming.kafka.sink_build_s":
            _in_setup(tracer, "streaming.kafka.kafka_sink_projection", len(OUTPUTS)),
        "operators.aggregate.shuffle_write_bytes": traced[-1]["shuffle_write_bytes"],
        "bench.tracing_overhead":
            statistics.median([r["drain_s"] for r in traced]) / base - 1,
    }
    layer.update(_query_layers(traced[-1]["progress"]))
    with tracer.span("prefix_runs"):
        raw = spark.read.schema(harness.KAFKA_DDL).parquet(src)
        layer.update(harness.prefix_runs(raw, SPEC.records, wire=True))
    with tracer.span("scaling.local1"):
        spark = harness.fresh_session(off, master="local[1]")
        one = _drain(spark, src, ck, off)
    bad, more = _progress_check(truth, files, ck, one["progress"])
    failed += bad
    notes += more
    attempted += SPEC.records
    layer["scaling.speedup_vs_1core"] = one["drain_s"] / base
    return attempted, failed, notes, metrics, layer, tracer, timings
