"""``batch_backfill``: one ``cli.run_batch(..., drift_report=True)`` job per
round over a RAW_ENVELOPE parquet table spanning 14 days.

The job plans once, reads and writes parquet (four outputs and the drift
report) and aggregates with a shuffle instead of state stores. The set-up
comes first, before the input is generated: from process start, JVM launch
included, until the session is built. The first job's outputs are checked
in full against the ground truth and warm the JVM; each timed job is
checked by its output row counts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter

import check
import gen
import harness
from spans import Tracer

SPEC = gen.Spec(
    records=3000, files=4,
    dialects={"avro": 1, "streams": 1, "connect": 1, "native": 1},
    topics=4, types=6, frames=12, malformed=0.01, null_trace=0.01,
    span_ms=14 * 86_400_000, wire=False,
)
MIN_REPEATS = 2  # timed jobs per run at least
OUTPUTS = ("full", "stats", "examples", "errors")
# declared per-layer metrics of layers this workload does not run
OFF_PATH = ("streaming.engine.", "streaming.query.",
            "streaming.kafka.decode_build_s", "streaming.kafka.sink_build_s")


def _job(spark, src: str, out: str, tracer: Tracer) -> dict:
    """One ``cli.run_batch`` job with the drift report."""
    from kafka_dead_letter_analyzer_spark.cli import AnalyzerConfig, run_batch

    shutil.rmtree(out, ignore_errors=True)
    config = AnalyzerConfig(batch_input=src, batch_output=out, drift_report=True)
    # the session's stage list also holds earlier jobs' shuffles
    shuffle0 = harness.shuffle_write_bytes(spark) if tracer.enabled else 0
    with tracer.span("cli.run_batch") as rec:
        t = time.perf_counter()
        wall0 = time.time()
        paths = run_batch(spark, config)
        job_s = time.perf_counter() - t
        wall1 = time.time()
    layer = _job_layers(spark, wall0, wall1, shuffle0) if rec is not None else {}
    return {"job_s": job_s, "paths": paths, "layer": layer}


def _job_layers(spark, wall0: float, wall1: float, shuffle0: int) -> dict:
    """Write and drift times from the session's SQL executions: run_batch
    writes the four outputs first, in order, then computes and writes the
    drift report."""
    from datetime import datetime

    def ts(s: str) -> float:
        return datetime.strptime(s.replace("GMT", "+0000"),
                                 "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    writes = sorted(
        (e for e in harness.rest(spark, "sql?details=false&length=100000")
         if ts(e["submissionTime"]) >= wall0 - 1
         and "InsertIntoHadoopFsRelationCommand" in e.get("planDescription", "")),
        key=lambda e: e["id"],
    )[:4]
    layer = {f"cli.run_batch.write_{name}_s": e["duration"] / 1000
             for name, e in zip(OUTPUTS, writes)}
    last = writes[-1]
    layer["operators.drift.report_s"] = (
        wall1 - ts(last["submissionTime"]) - last["duration"] / 1000)
    layer["operators.aggregate.shuffle_write_bytes"] = (
        harness.shuffle_write_bytes(spark) - shuffle0)
    return layer


def _read_outputs(spark, paths: dict) -> dict:
    def rows(name, *cols):
        return [tuple(r) for r in spark.read.parquet(paths[name]).select(*cols).collect()]

    ex, dl = "example", "dead_letter"
    return {
        "full": {k: t for k, t in rows("full", "kafka_key", "type")},
        "stats": {k: {"count": c, "created": a, "updated": b}
                  for k, c, a, b in rows("stats", "kafka_key", "count", "created", "updated")},
        "examples": {k: list(v) for k, *v in rows(
            "examples", "kafka_key", f"{ex}.key", f"{ex}.offset", f"{ex}.partition",
            f"{ex}.timestamp", f"{ex}.{dl}.description")},
        "errors": Counter(json.dumps(list(r)) for r in rows(
            "errors", "kafka_key", f"{dl}.description", f"{dl}.cause.error_class",
            f"{dl}.cause.message")),
        "drift": {f"{tp}:{ty}": n for tp, ty, n in rows("drift", "topic", "type", "n")},
    }


def _count_check(truth: dict, spark, paths: dict) -> tuple[int, list[str]]:
    want = {"full": len(truth["full"]), "stats": len(truth["stats"]),
            "examples": len(truth["examples"]), "errors": sum(truth["errors"].values()),
            "drift": len(truth["stats"])}
    bad, notes = 0, []
    for name, n in want.items():
        got = spark.read.parquet(paths[name]).count()
        if got != n:
            bad += abs(got - n)
            notes.append(f"{name}: {got} rows, expected {n}")
    return bad, notes


def run(work: str, seed: int, seconds: float, trace: bool, rss: harness.RssSampler):
    """Returns ``(attempted, failed, notes, end-to-end metrics, per-layer
    metrics, tracer, round timings)``."""
    from kafka_dead_letter_analyzer_spark.plans.topology import build_topology
    from kafka_dead_letter_analyzer_spark.schemas import RAW_ENVELOPE

    off = Tracer(False)
    tracer = Tracer(trace)
    spark = harness.fresh_session(tracer)
    setup_s = harness.since_process_start()

    files, truth = gen.write(SPEC, seed, os.path.join(work, "input"))
    src = os.path.dirname(files[0])
    out = os.path.join(work, "out")
    if trace:
        # the construction run_batch starts with, first in this JVM as in
        # a job of the command-line tool
        with tracer.span("plans.topology.build_topology"):
            build_topology(spark.read.schema(RAW_ENVELOPE).parquet(src))

    # untimed: full content check of every output; warms the JVM and the
    # Python workers for the timed jobs on the same session
    first = _job(spark, src, out, off)
    got = _read_outputs(spark, first["paths"])
    failed, notes = check.compare_outputs(truth, got)
    want_drift = {k: v["count"] for k, v in truth["stats"].items()}
    failed += check.diff_maps("drift", want_drift, got["drift"], notes)

    rss.on.set()
    jobs, t_start = [], time.perf_counter()
    while len(jobs) < MIN_REPEATS or time.perf_counter() - t_start < seconds:
        traced = trace and len(jobs) % 2 == 1
        r = _job(spark, src, out, tracer if traced else off)
        r["traced"] = traced
        bad, more = _count_check(truth, spark, r["paths"])
        failed += bad
        notes += more
        jobs.append(r)
    rss.on.clear()

    attempted = SPEC.records * (1 + len(jobs))
    plain = [r for r in jobs if not r["traced"]]
    base = statistics.median([r["job_s"] for r in plain])
    metrics = {
        "setup_s": setup_s,
        "throughput_rps": SPEC.records / base,
    }
    timings = {"job_s": [r["job_s"] for r in jobs]}
    if not trace:
        return attempted, failed, notes, metrics, {}, tracer, timings

    traced = [r for r in jobs if r["traced"]]
    layer = dict(traced[-1]["layer"])
    layer["session.get_spark_s"] = tracer.durations("session.get_spark")[0]
    layer["bench.python_workers_peak_mb"] = rss.workers_peak_kb / 1024
    layer["bench.jvm_peak_rss_mb"] = rss.jvm_peak_kb / 1024
    layer["bench.tracing_overhead"] = statistics.median([r["job_s"] for r in traced]) / base - 1
    layer["plans.topology.build_s"] = tracer.durations("plans.topology.build_topology")[0]
    with tracer.span("prefix_runs"):
        raw = spark.read.schema(RAW_ENVELOPE).parquet(src)
        layer.update(harness.prefix_runs(raw, SPEC.records, wire=False))
    with tracer.span("scaling.local1"):
        spark = harness.fresh_session(off, master="local[1]")
        one = _job(spark, src, out, off)
    bad, more = _count_check(truth, spark, one["paths"])
    failed += bad
    notes += more
    attempted += SPEC.records
    layer["scaling.speedup_vs_1core"] = one["job_s"] / base
    return attempted, failed, notes, metrics, layer, tracer, timings
