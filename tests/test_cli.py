"""CLI harness tests: flag parsing (reference CLI surface parity) and the
batch-mode end-to-end run."""

from __future__ import annotations

import datetime as dt
import os

from kafka_dead_letter_analyzer_spark.cli import AnalyzerConfig, parse_args, run_batch
from kafka_dead_letter_analyzer_spark.sources import fixtures as FX


def test_parse_args_reference_surface():
    cfg = parse_args(
        [
            "--brokers", "broker:9092",
            "--input-pattern", ".*-dl",
            "--output-topic", "out",
            "--error-topic", "out-dl",
            "--extra-output-topics", "stats=my-stats,examples=my-examples",
            "--schema-registry-url", "http://sr:8081",
        ]
    )
    assert cfg.brokers == "broker:9092"
    assert cfg.input_pattern == ".*-dl"
    assert cfg.app_id == "dead-letter-analyzer-out"
    assert cfg.stats_topic == "my-stats"
    assert cfg.examples_topic == "my-examples"
    assert cfg.error_topic == "out-dl"


def test_extra_topics_default_derivation():
    cfg = parse_args(["--output-topic", "analyzed"])
    assert cfg.stats_topic == "analyzed-stats"
    assert cfg.examples_topic == "analyzed-examples"


def test_parse_args_rejects_malformed_extra_topics(capsys):
    import pytest

    for bad in ("stats", "stats=", "=my-stats", "stats=my-stats,examples"):
        with pytest.raises(SystemExit):
            parse_args(["--extra-output-topics", bad])
        assert "not a label=topic pair" in capsys.readouterr().err, bad


def test_main_stops_every_query_when_one_fails(monkeypatch):
    """A failed query makes ``awaitAnyTermination`` raise; ``main`` still
    stops all four queries."""
    import types

    import pytest

    from kafka_dead_letter_analyzer_spark import cli, session

    class Query:
        stopped = False

        def stop(self):
            self.stopped = True

    def await_any():
        raise RuntimeError("query failed")

    spark = types.SimpleNamespace(
        streams=types.SimpleNamespace(awaitAnyTermination=await_any)
    )
    queries = [Query() for _ in range(4)]
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(cli, "run_streaming", lambda spark, config: queries)
    with pytest.raises(RuntimeError, match="query failed"):
        cli.main(["--brokers", "broker:9092"])
    assert all(q.stopped for q in queries)


def test_run_streaming_stops_started_queries_when_a_start_fails(monkeypatch):
    """If the third sink fails to start, ``run_streaming`` stops the two
    queries already running and re-raises."""
    import types

    import pytest

    from kafka_dead_letter_analyzer_spark import cli
    from kafka_dead_letter_analyzer_spark.plans import topology
    from kafka_dead_letter_analyzer_spark.streaming import kafka

    class Query:
        stopped = False

        def stop(self):
            self.stopped = True

    started = []

    def write(sink_df, brokers, topic, checkpoint_dir, mode, name):
        if len(started) == 2:
            raise RuntimeError(f"cannot start {name}")
        started.append(Query())
        return started[-1]

    topo = types.SimpleNamespace(
        full_dead_letters="full", error_statistics="stats",
        error_examples="examples", error_topic="errors",
    )
    monkeypatch.setattr(kafka, "read_dead_letter_stream", lambda *a: "raw")
    monkeypatch.setattr(kafka, "write_stream_to_kafka", write)
    monkeypatch.setattr(topology, "build_topology", lambda raw: topo)
    config = parse_args(["--brokers", "broker:9092", "--output-topic", "out"])
    with pytest.raises(RuntimeError, match="dead-letter-analyzer-out-examples"):
        cli.run_streaming(None, config)
    assert len(started) == 2 and all(q.stopped for q in started)


def test_batch_mode_end_to_end(spark, tmp_path):
    rows = [
        FX.envelope(offset=0, value_deadletter=FX.dead_letter_value()),
        FX.envelope(offset=1, key="bad",
                    value_deadletter=FX.dead_letter_value(stack_trace=None)),
    ]
    src = str(tmp_path / "raw")
    FX.raw_frame(spark, rows).write.parquet(src)

    cfg = AnalyzerConfig(batch_input=src, batch_output=str(tmp_path / "out"))
    paths = run_batch(spark, cfg)

    full = spark.read.parquet(paths["full"]).collect()
    assert len(full) == 1 and full[0]["kafka_key"] == "my-dead-letters+0+0"
    stats = spark.read.parquet(paths["stats"]).collect()
    assert len(stats) == 1 and stats[0]["count"] == 1
    examples = spark.read.parquet(paths["examples"]).collect()
    assert len(examples) == 1
    errors = spark.read.parquet(paths["errors"]).collect()
    assert len(errors) == 1
    assert errors[0]["dead_letter"]["description"] == "Error analyzing dead letter"


def test_batch_mode_drift_report(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    rows = [
        FX.envelope(offset=i,
                    timestamp=base + dt.timedelta(hours=i // 2),
                    value_deadletter=FX.dead_letter_value())
        for i in range(8)  # 2 dead letters per hour, 4 hours
    ] + [
        # a second group's first burst: 6 dead letters within one hour
        FX.envelope(topic="burst-dead-letters", offset=i,
                    timestamp=base + dt.timedelta(minutes=5 * i),
                    value_deadletter=FX.dead_letter_value())
        for i in range(6)
    ]
    src = str(tmp_path / "raw_drift")
    FX.raw_frame(spark, rows).write.parquet(src)

    cfg = AnalyzerConfig(
        batch_input=src, batch_output=str(tmp_path / "out_drift"),
        drift_report=True,
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    paths = run_batch(spark, cfg)
    # the detectors' shared contraction is released after the write
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert "drift" in paths
    report = {
        r["topic"]: r for r in spark.read.parquet(paths["drift"]).collect()
    }
    assert set(report) == {"my-dead-letters", "burst-dead-letters"}
    r = report["my-dead-letters"]
    assert r["n"] == 8 and r["buckets"] == 4
    # perfectly steady rate: no level shift, flat robust trend,
    # Mann-Kendall S = 0, nothing Hampel-flagged
    assert r["up_ppm"] == 0 and r["down_ppm"] == 0
    assert r["slope_num"] == 0 and r["s_stat"] == 0
    assert r["flagged_buckets"] == 0
    # one bucket: CUSUM reports it, no bucket pairs -> NULL trend and
    # Mann-Kendall columns, but the group keeps its row
    b = report["burst-dead-letters"]
    assert b["n"] == 6 and b["buckets"] == 1
    assert b["up_ppm"] == 0 and b["down_ppm"] == 0
    assert b["flagged_buckets"] == 0
    assert (b["slope_num"], b["slope_den"], b["s_stat"], b["var18"]) == (
        None, None, None, None,
    )
    # the flag defaults off: a plain batch run writes no drift dir
    cfg2 = AnalyzerConfig(
        batch_input=src, batch_output=str(tmp_path / "out_plain")
    )
    assert "drift" not in run_batch(spark, cfg2)


def test_batch_drift_report_picks_day_when_hour_buckets_overflow(spark, tmp_path):
    # 00:30 to 3999.6 h later: a 3999.6 h span, but 4001 hour buckets of
    # the report's contraction (hours 0 and 4000), one past its cap
    first = dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc)
    rows = [
        FX.envelope(offset=i, timestamp=first + dt.timedelta(hours=h),
                    value_deadletter=FX.dead_letter_value())
        for i, h in enumerate((0, 3999.6))
    ]
    src = str(tmp_path / "raw")
    FX.raw_frame(spark, rows).write.parquet(src)
    cfg = AnalyzerConfig(batch_input=src, batch_output=str(tmp_path / "out"),
                         drift_report=True)
    [r] = spark.read.parquet(run_batch(spark, cfg)["drift"]).collect()
    # day buckets 0 and 166
    assert (r["n"], r["buckets"]) == (2, 167)
    assert r["up_cp_ts"] == dt.datetime(2024, 1, 1)


def _small_batch(spark, tmp_path) -> AnalyzerConfig:
    rows = [
        FX.envelope(offset=i,
                    timestamp=dt.datetime(2024, 1, 1, i, tzinfo=dt.timezone.utc),
                    value_deadletter=FX.dead_letter_value())
        for i in range(3)
    ] + [FX.envelope(offset=3, key="bad",
                     value_deadletter=FX.dead_letter_value(stack_trace=None))]
    src = str(tmp_path / "raw")
    FX.raw_frame(spark, rows).write.parquet(src)
    return AnalyzerConfig(batch_input=src, batch_output=str(tmp_path / "out"),
                          drift_report=True)


def test_run_batch_jobs_fall_in_callers_job_group(spark, tmp_path):
    """Every job of the concurrent sinks runs in the caller's job group,
    named by its sink."""
    cfg = _small_batch(spark, tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("run-batch-under-test", "run_batch")
    try:
        paths = run_batch(spark, cfg)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert list(paths) == ["full", "stats", "examples", "errors", "drift"]
    assert tracker.getJobIdsForGroup("run-batch-under-test")
    assert set(tracker.getJobIdsForGroup()) == ungrouped
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    described = {
        executions.apply(i).description() for i in range(executions.size())
    }
    assert {f"run_batch: {name}" for name in paths} <= described


def test_run_batch_failed_sink_raises_after_other_writes(
    spark, tmp_path, monkeypatch
):
    """Two failing sinks: run_batch waits for every write, raises the
    first failure in sink order, and leaves no thread or cached frame."""
    import dataclasses
    import threading

    import pytest
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.plans import topology

    real = topology.build_topology

    def failing(df, sink):
        return df.withColumn(
            "kafka_key",
            F.coalesce(F.raise_error(F.lit(f"{sink} sink failed")).cast("string"),
                       F.col("kafka_key")),
        )

    def broken(raw):
        out = real(raw)
        return dataclasses.replace(
            out,
            error_statistics=failing(out.error_statistics, "stats"),
            error_topic=failing(out.error_topic, "errors"),
        )

    monkeypatch.setattr(topology, "build_topology", broken)
    cfg = _small_batch(spark, tmp_path)
    threads = threading.active_count()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="stats sink failed"):
        run_batch(spark, cfg)
    for name in ("full", "examples", "drift"):
        assert os.path.exists(f"{cfg.batch_output}/{name}/_SUCCESS"), name
    assert threading.active_count() == threads
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_run_batch_outside_pinned_thread_mode(spark, tmp_path, monkeypatch):
    """With ``PYSPARK_PIN_THREAD=false``, PySpark's
    ``inheritable_thread_target(session)`` returns the session itself;
    every sink is still written."""
    import pyspark

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)
    paths = run_batch(spark, _small_batch(spark, tmp_path))
    assert len(paths) == 5
    assert all(os.path.exists(f"{p}/_SUCCESS") for p in paths.values())


def test_warm_drift_report_runs_at_most_six_jobs(spark, tmp_path):
    """The drift sink of a warm run reads its contraction once: one span
    collect that fills the cache, then the kernel pass and its write."""
    cfg = _small_batch(spark, tmp_path)
    run_batch(spark, cfg)  # cold
    sc = spark.sparkContext
    sc.setJobGroup("warm-drift-report", "run_batch")
    try:
        run_batch(spark, cfg)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descriptions = [
        store.job(j).description()
        for j in sc.statusTracker().getJobIdsForGroup("warm-drift-report")
    ]
    drift = [d for d in descriptions
             if d.isDefined() and d.get() == "run_batch: drift"]
    assert 0 < len(drift) <= 6, len(drift)
