"""Streaming layer: the analyzer's wiring re-exported for ``readStream``,
plus the catalog's stateful streaming extensions.

The analyzer's dataflow (dialect routing, parsing, enrichment, A1, sink
projections) is the SAME column program as batch:
``build_streaming_topology`` *is* ``plans.topology.build_topology``.
Its one stateful operator (A1, ErrorAggregatingProcessor.java:38-102)
runs in its two streaming halves on the batch operators
(``operators/aggregate.py``):

- statistics: ``groupBy(topic, type).agg(count/min/max)`` in UPDATE output
  mode. Spark's state store replaces the reference's RocksDB ``statistics``
  store (DeadLetterAnalyzerTopology.java:220-226); emission cadence is
  per-micro-batch instead of per-record — downstream consumption is upsert
  either way (README.md:116), so the last value per key is identical.
- first example: Kafka Streams "first" is ARRIVAL order
  (ErrorAggregatingProcessor.java:59-65). ``first_examples`` orders its
  ``min_by`` by (batch timestamp, ts, offset), so the first micro-batch to
  carry a key wins, the least (ts, offset) wins within it, and the key is
  emitted exactly once, restarts included.

State-size note for 100 TB: the examples state is one example payload per
distinct (topic, type) in the JVM state store; the stats state is three
scalars per key. Both are bounded by error-type cardinality, not traffic,
and neither needs TTL (the reference's store is likewise unbounded and
tiny).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_dead_letter_analyzer_spark.operators.project import to_full_dead_letters
from kafka_dead_letter_analyzer_spark.plans.topology import (
    build_topology,
    enrich_and_route_errors,
)
from kafka_dead_letter_analyzer_spark.functions.formatting import (
    format_timestamp,
    stats_key,
)

# ---------------------------------------------------------------------------
# Per-record stats emission (exact reference cadence)
# ---------------------------------------------------------------------------

_STATS_OUT = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("count", T.IntegerType(), False),
        T.StructField("created", T.TimestampType(), False),
        T.StructField("updated", T.TimestampType(), False),
    ]
)

_STATS_STATE = T.StructType(
    [
        T.StructField("count", T.IntegerType(), False),
        T.StructField("created", T.TimestampType(), False),
        T.StructField("updated", T.TimestampType(), False),
    ]
)


def _per_record_stats_fn(key, pdfs, state) -> Iterator:
    """Reference emission cadence: ONE stats row per input record
    (ErrorAggregatingProcessor.java:90-91 — state written back and a
    Result forwarded for every record). Rows within a micro-batch are
    processed in (ts, offset) order for determinism.

    The per-record running count/min/max are vectorized (cumulative
    pandas ops over the sorted frame — the output is irreducibly
    row-shaped, the computation need not be)."""
    import pandas as pd

    count, created, updated = state.get if state.exists else (0, None, None)
    batches = [pdf for pdf in pdfs if len(pdf)]
    if not batches:
        return
    # sort AFTER concatenating: a key's micro-batch may span several Arrow
    # chunks, and per-chunk sorting would leave the concatenation unordered
    # across chunk boundaries (non-deterministic emission order)
    allb = (
        pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]
    ).sort_values(["ts", "offset"], kind="stable")
    ts = allb["ts"]
    if created is not None:
        created = pd.Timestamp(created)
    if updated is not None:
        updated = pd.Timestamp(updated)
    run_created = ts.cummin() if created is None else ts.cummin().clip(upper=created)
    run_updated = ts.cummax() if updated is None else ts.cummax().clip(lower=updated)
    out = pd.DataFrame(
        {
            "topic": key[0],
            "type": key[1],
            "count": count + pd.RangeIndex(1, len(allb) + 1),
            "created": run_created.reset_index(drop=True),
            "updated": run_updated.reset_index(drop=True),
        }
    )
    state.update(
        (
            int(out["count"].iloc[-1]),
            out["created"].iloc[-1].to_pydatetime(),
            out["updated"].iloc[-1].to_pydatetime(),
        )
    )
    yield out


def streaming_error_statistics_per_record(enriched: DataFrame) -> DataFrame:
    """A1 stats with the reference's exact one-output-per-input cadence
    (vs. ``operators.aggregate.error_statistics``, which emits the
    converged value per key per micro-batch — same final state, fewer
    rows). Use this when downstream consumes the full update stream rather
    than upserting. Output: FullErrorStatistics sink rows."""
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.col("context.timestamp").alias("ts"),
        F.col("context.offset").alias("offset"),
    )
    out = keyed.groupBy("topic", "type").applyInPandasWithState(
        _per_record_stats_fn,
        outputStructType=_STATS_OUT,
        stateStructType=_STATS_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return out.select(
        stats_key(F.col("topic"), F.col("type")).alias("kafka_key"),
        F.col("count"),
        format_timestamp(F.col("created")).alias("created"),
        format_timestamp(F.col("updated")).alias("updated"),
        "topic",
        "type",
    )


# ---------------------------------------------------------------------------
# TTL'd statistics via the state-v2 API (transformWithStateInPandas)
# ---------------------------------------------------------------------------


def state_v2_available() -> bool:
    """True iff the transformWithStateInPandas runtime can start: the API
    exists AND its protobuf-based state protocol is importable."""
    try:
        from pyspark.sql.streaming import StatefulProcessor  # noqa: F401
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    return True


def make_ttl_stats_processor(ttl_ms: int):
    """Per-(topic, type) running stats with state TTL — the scale-hardened
    variant of A1's aggregate. The reference's RocksDB store (and our
    default stats path) keeps every key forever; with a TTL, a key whose
    error type has gone quiet for ``ttl`` is evicted and restarts from
    zero on its next occurrence — state size tracks the ACTIVE error-type
    set, which is what keeps an always-on analyzer bounded over months.

    Implemented on the state-v2 ``StatefulProcessor`` API: value state
    declared with ``ttlDurationMs``; the store (RocksDB required by
    transformWithState) enforces expiry — no timer bookkeeping in Python.
    Lazily subclasses StatefulProcessor at construction so importing this
    module never requires the v2 API to exist (older PySpark).

    Availability: the state-v2 worker protocol needs ``google.protobuf``
    (``pyspark.sql.streaming.proto``); check :func:`state_v2_available`
    before wiring this into a query — in containers without protobuf the
    query fails at stream start, not at plan time.
    """
    from pyspark.sql.streaming import StatefulProcessor

    class _Impl(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "stats", _STATS_STATE, ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            count, created, updated = (
                self._state.get() if self._state.exists() else (0, None, None)
            )
            n, mn, mx = 0, None, None
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                bmn, bmx = pdf["ts"].min(), pdf["ts"].max()
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            if n == 0:
                return
            if created is not None:
                mn = min(mn, pd.Timestamp(created))
            if updated is not None:
                mx = max(mx, pd.Timestamp(updated))
            count += n
            self._state.update(
                (int(count), mn.to_pydatetime(), mx.to_pydatetime())
            )
            yield pd.DataFrame(
                {
                    "topic": [key[0]],
                    "type": [key[1]],
                    "count": [count],
                    "created": [mn],
                    "updated": [mx],
                }
            )

        def close(self) -> None:
            pass

    return _Impl()


def streaming_error_statistics_ttl(
    enriched: DataFrame, ttl_ms: int = 30 * 24 * 3_600 * 1_000
) -> DataFrame:
    """A1 stats on the state-v2 engine with per-key TTL (default 30 days):
    FullErrorStatistics rows in update cadence; keys idle longer than the
    TTL are evicted by the store and restart on next arrival. Requires the
    RocksDB state-store provider (``get_spark(rocksdb_state_store=True)``
    or ``--rocksdb-state-store``)."""
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.col("context.timestamp").alias("ts"),
    )
    out = keyed.groupBy("topic", "type").transformWithStateInPandas(
        make_ttl_stats_processor(ttl_ms),
        outputStructType=_STATS_OUT,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    return out.select(
        stats_key(F.col("topic"), F.col("type")).alias("kafka_key"),
        F.col("count"),
        format_timestamp(F.col("created")).alias("created"),
        format_timestamp(F.col("updated")).alias("updated"),
        "topic",
        "type",
    )


# ---------------------------------------------------------------------------
# Redelivery dedup (exactly-once record identity at the source edge)
# ---------------------------------------------------------------------------


def streaming_dedup_records(raw: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop redelivered Kafka records by their (topic, partition, offset)
    identity — consumer rebalances and producer retries both re-emit
    records the analyzer has already seen, and every downstream stat would
    double-count them.

    ``dropDuplicatesWithinWatermark`` keys state on the identity triple and
    EVICTS each key once the watermark passes it — state is bounded by the
    redelivery horizon (``watermark``), not stream lifetime, which is what
    makes source-edge dedup viable at 100 TB (plain ``dropDuplicates`` on
    a stream accumulates keys forever). An extension: the reference relies
    on Kafka Streams' at-least-once semantics and idempotent upserting
    downstream (README.md:116); this gives the same end state with exact
    intermediate counts.
    """
    return raw.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        ["topic", "partition", "offset"]
    )


# ---------------------------------------------------------------------------
# Watermarked windowed statistics (dashboard rollup at stream time)
# ---------------------------------------------------------------------------


def streaming_windowed_statistics(
    enriched: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-(window, topic, type) error counts with a watermark for late
    data — the time-bucketed dashboard surface next to the reference's
    all-time statistics (an extension: the reference has no windowing).

    Event time is the origin record timestamp (``context.timestamp``).
    APPEND output mode: a window's row is emitted exactly once, when the
    watermark (max seen event time - ``watermark``) passes the window end —
    downstream receives FINALIZED per-window counts, records later than the
    watermark are dropped deterministically, and — the 100 TB point — the
    state store only ever holds open windows x live keys, bounded by the
    watermark horizon instead of growing with stream lifetime.
    """
    keyed = (
        enriched.select(
            F.col("error_key.topic").alias("topic"),
            F.col("error_key.type").alias("type"),
            F.col("context.timestamp").alias("ts"),
        )
        .withWatermark("ts", watermark)
    )
    agg = keyed.groupBy(F.window("ts", window_duration), "topic", "type").agg(
        F.count(F.lit(1)).cast("int").alias("count"),
        F.min("ts").alias("created"),
        F.max("ts").alias("updated"),
    )
    return agg.select(
        stats_key(F.col("topic"), F.col("type")).alias("kafka_key"),
        format_timestamp(F.col("window.start")).alias("window_start"),
        format_timestamp(F.col("window.end")).alias("window_end"),
        F.col("count"),
        format_timestamp(F.col("created")).alias("created"),
        format_timestamp(F.col("updated")).alias("updated"),
        "topic",
        "type",
    )


# ---------------------------------------------------------------------------
# Session-window statistics (error-burst detection at stream time)
# ---------------------------------------------------------------------------


def streaming_session_statistics(
    enriched: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-(topic, type) error SESSIONS: consecutive errors closer than
    ``gap`` merge into one burst; a quiet period longer than ``gap`` closes
    it. The streaming half of ``operators/temporal.py::session_stats`` —
    same native ``F.session_window`` aggregation, same inclusive merge
    boundary, so a batch backfill and the live stream produce identical
    sessions for the same data.

    APPEND mode: a session row is emitted exactly once, when the watermark
    passes its close — downstream sees finalized bursts (start, end,
    count). State: only OPEN sessions per live key, evicted at the
    watermark horizon; session rows merge in the store as events arrive,
    so state size tracks burst count, not event count — the property that
    keeps this viable on an unbounded 100 TB/day stream.
    """
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.col("context.timestamp").alias("ts"),
    ).withWatermark("ts", watermark)
    agg = keyed.groupBy(
        F.session_window(F.col("ts"), gap).alias("_w"), "topic", "type"
    ).agg(
        F.count(F.lit(1)).cast("int").alias("count"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )
    return agg.select(
        stats_key(F.col("topic"), F.col("type")).alias("kafka_key"),
        format_timestamp(F.col("session_start")).alias("session_start"),
        format_timestamp(F.col("session_end")).alias("session_end"),
        F.col("count"),
        "topic",
        "type",
    )


# ---------------------------------------------------------------------------
# Threshold alerts (emit-once on crossing)
# ---------------------------------------------------------------------------


def _make_threshold_fn(threshold: int):
    def _threshold_alert_fn(key, pdfs, state) -> Iterator:
        """Emit ONE alert row when a key's cumulative error count first
        reaches `threshold`. State per key: (count, alerted) — two
        numbers, never a record buffer. After alerting, the count keeps
        accumulating (the emitted row carries the exact crossing count)
        but no further rows are emitted: downstream pagers want one page
        per incident, not one per subsequent error."""
        import pandas as pd

        count, alerted = state.get if state.exists else (0, 0)
        seen = 0
        for pdf in pdfs:
            seen += len(pdf)
        count += seen
        if alerted or count < threshold:
            state.update((count, alerted))
            return
        state.update((count, 1))
        yield pd.DataFrame(
            {"topic": [key[0]], "type": [key[1]], "count_at_alert": [count]}
        )

    return _threshold_alert_fn


def streaming_threshold_alerts(
    enriched: DataFrame, threshold: int = 100
) -> DataFrame:
    """One alert per (topic, type), emitted the first time its cumulative
    dead-letter count reaches ``threshold`` — the incident-paging surface
    on top of the A1 statistics. Emit-once semantics like the reference's
    first-example processor (ErrorAggregatingProcessor.java:59-65), but
    keyed on a counter crossing instead of first arrival; state is two
    ints per key, so the store size tracks live keys, not traffic."""
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
    )
    return keyed.groupBy("topic", "type").applyInPandasWithState(
        _make_threshold_fn(threshold),
        outputStructType="topic string, type string, count_at_alert long",
        stateStructType="count long, alerted long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (deploy/incident correlation)
# ---------------------------------------------------------------------------


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream equi-join where the right event happened within
    ``lookback`` BEFORE the left event — e.g. correlate each dead letter
    with every deployment marker on the same topic in the preceding hour
    (the "what changed right before the errors started" query, live).

    Both sides carry a watermark and the join condition bounds the two
    event-time columns against each other — exactly the form Structured
    Streaming needs to compute state eviction for BOTH buffers: a right
    row is dropped once the left watermark passes right_ts + lookback, a
    left row once the right watermark passes left_ts. State is bounded
    by rate x (lookback + watermark), never stream lifetime — without
    the interval bounds the engine would buffer both streams forever,
    which is the difference between a demo and a 100 TB/day join.

    INNER join: matches emit as soon as both rows arrive (append mode);
    the watermark only schedules cleanup. Column name collisions on
    ``on`` are resolved to a single output column.
    """
    l = left.withWatermark(left_ts, watermark).alias("_l")
    r = right.withWatermark(right_ts, watermark).alias("_r")
    cond = (
        (F.col(f"_l.{on}") == F.col(f"_r.{on}"))
        & (F.col(f"_r.{right_ts}") <= F.col(f"_l.{left_ts}"))
        & (
            F.col(f"_r.{right_ts}")
            >= F.col(f"_l.{left_ts}") - F.expr(f"INTERVAL {lookback}")
        )
    )
    left_cols = [c for c in left.columns if c != on]
    right_cols = [c for c in right.columns if c != on]
    # disambiguate collisions: a non-key column present on both sides
    # keeps its name on the left and gains a "right_" prefix on the
    # right (both streams usually carry e.g. "ts")
    taken = set(left_cols) | {on}
    right_out = []
    for c in right_cols:
        out = c
        while out in taken:
            out = f"right_{out}"
        taken.add(out)
        right_out.append((c, out))
    return l.join(r, cond, "inner").select(
        f"_l.{on}",
        *[F.col(f"_l.{c}") for c in left_cols],
        *[F.col(f"_r.{c}").alias(out) for c, out in right_out],
    )


# ---------------------------------------------------------------------------
# Full streaming topology
# ---------------------------------------------------------------------------


def start_stateless_outputs(
    raw_stream: DataFrame,
    write_full,
    write_errors,
    checkpoint_dir: str,
    query_name: str = "dead-letter-analyzer-stateless",
):
    """Run BOTH stateless outputs (O1 full feed + O4 error topic) from ONE
    consumption of the source.

    Four independent ``writeStream`` queries would each re-read the Kafka
    source and re-run the dialect routing — 4x broker egress at scale.
    ``foreachBatch`` gives the per-micro-batch hook to persist the shared
    normalization once and fan out to any number of batch writers, the
    streaming analog of the reference computing all outputs in one
    topology pass. The stateful outputs (stats, examples) stay in their
    own queries: they need Spark-managed state stores, which foreachBatch
    does not provide.

    ``write_full`` / ``write_errors`` are callables ``(DataFrame,
    batch_id) -> None`` (e.g. Kafka/parquet batch writers).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out = _stateless_outputs(batch_df)
            write_full(out[0], batch_id)
            write_errors(out[1], batch_id)
        finally:
            batch_df.unpersist()

    return (
        raw_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def _stateless_outputs(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(full_dead_letters, error_topic) for one batch of raw envelopes."""
    enriched, error_topic = enrich_and_route_errors(raw)
    return to_full_dead_letters(enriched), error_topic


# The analyzer's wiring is one program for both modes (SURVEY.md §3.2).
build_streaming_topology = build_topology


# ---------------------------------------------------------------------------
# Continuous top-k (live heavy hitters)
# ---------------------------------------------------------------------------


def streaming_topk_types(enriched: DataFrame, k: int = 5) -> DataFrame:
    """Live "worst offenders" board: the k most frequent (topic, type)
    keys over the whole stream so far — run with
    ``outputMode("complete")``; each micro-batch re-emits the full
    top-k.

    This is the idiomatic Structured Streaming top-k: a stateful
    running count (state = one long per LIVE KEY — error-type
    cardinality, not traffic volume) followed by orderBy+limit, which
    the engine permits on aggregates in complete mode. The sort runs
    over the aggregated count table only (|live keys| rows), never the
    stream. For key spaces too large to re-emit (per-user ids at 100
    TB/day), window the count and let the dashboard fold windows —
    complete mode's re-emission is the documented trade."""
    counts = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
    ).groupBy("topic", "type").agg(F.count(F.lit(1)).alias("count"))
    return counts.orderBy(
        F.col("count").desc(), F.col("topic"), F.col("type")
    ).limit(k)


# ---------------------------------------------------------------------------
# Per-key rate limiting (ingest throttle)
# ---------------------------------------------------------------------------


def _make_rate_limit_fn(max_per_window: int, window_s: int, grace_s: int, cols):
    def _rate_limit_fn(key, pdfs, state) -> Iterator:
        """Pass through at most ``max_per_window`` rows per (key, window)
        in ARRIVAL order; drop the rest. State per live window: ONE
        counter, evicted by event-time timeout once the watermark passes
        the window end + grace."""
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        (count,) = state.get if state.exists else (0,)
        kept = []
        for pdf in pdfs:
            room = max_per_window - count
            if room > 0:
                kept.append(pdf.head(room))
            count += len(pdf)  # count ALL arrivals (drops included)
        state.update((count,))
        win_start = key[-1]  # the materialized window-start grouping col
        timeout_ms = int(win_start.timestamp() * 1000) + (window_s + grace_s) * 1000
        state.setTimeoutTimestamp(timeout_ms)
        for pdf in kept:
            if len(pdf):
                yield pdf[cols]

    return _rate_limit_fn


def streaming_rate_limit(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "timestamp",
    max_per_window: int = 100,
    window_s: int = 600,
    watermark_s: int = 600,
) -> DataFrame:
    """Ingest throttle: at most ``max_per_window`` rows per key per
    ``window_s``-second event-time window pass through (arrival order —
    the reference's first-example semantics generalized from 1 to N);
    the overflow is dropped. The protection in front of a stats pipeline
    when one producer melts down: the analyzer keeps sampling every
    key's traffic instead of drowning in the hot one's.

    State is ONE counter per live (key, window), evicted by event-time
    timeout when the watermark passes the window end + watermark — total
    state tracks (live keys) x (windows in the watermark horizon), never
    traffic volume. Output schema = input schema."""
    from pyspark.sql import types as T

    in_cols = list(df.columns)
    out_schema = df.schema
    win = F.window(F.col(ts_col), f"{window_s} seconds")["start"].alias("_win")
    grouped = (
        df.withWatermark(ts_col, f"{watermark_s} seconds")
        .withColumn("_win", win)
        .groupBy(*key_cols, "_win")
    )
    return grouped.applyInPandasWithState(
        _make_rate_limit_fn(max_per_window, window_s, watermark_s, in_cols),
        outputStructType=out_schema,
        stateStructType="count long",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


# ---------------------------------------------------------------------------
# Continuous quantile sketches (live latency/size percentiles)
# ---------------------------------------------------------------------------


def _make_qsketch_fn(k: int):
    def _qsketch_fn(key, pdfs, state) -> Iterator:
        """Maintain one level-sampling quantile sketch per group key:
        state = (exact n, kept (h60, v) pairs below the current level
        threshold).  Each batch: add rows, recompute L = smallest
        integer with n/2^L <= k from the NEW n, prune everything at or
        above 2^(60-L).  Because {h < T} is monotone in T and the hash
        draw is per-row-deterministic, the state after ANY prefix of
        batches equals the batch sketch of exactly those rows — the
        same algebra as quantile_sketch_merge, so stream and backfill
        can never disagree (convergence-tested).  State is O(k) pairs;
        each trigger emits the group's full current sketch (sketch-
        sized, strictly increasing n tags the latest emission)."""
        import pandas as pd

        if state.exists:
            n, hs, vs = state.get
            hs, vs = list(hs), list(vs)
        else:
            n, hs, vs = 0, [], []
        for pdf in pdfs:
            n += len(pdf)
            hs.extend(int(h) for h in pdf["h60"])
            vs.extend(float(v) for v in pdf["v"])
        m = (n + k - 1) // k
        lvl = 0 if m <= 1 else (m - 1).bit_length()
        thr = 1 << (60 - lvl)
        kept = [(h, v) for h, v in zip(hs, vs) if h < thr]
        state.update((n, [h for h, _ in kept], [v for _, v in kept]))
        weight = 1 << lvl
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])] * len(kept),
                "h60": [h for h, _ in kept],
                "v": [v for _, v in kept],
                "weight": [weight] * len(kept),
                "n": [n] * len(kept),
            }
        )

    return _qsketch_fn


def streaming_quantile_sketch(
    df: DataFrame,
    group_col: str,
    key: str,
    value_col: str,
    k: int = 256,
    salt: str = "qsk:",
) -> DataFrame:
    """Live per-group quantile sketches as a stateful streaming
    operator — the streaming half of
    ``operators/quantiles.py::quantile_level_sketch`` (same salted
    per-row hash draw, same integer level rule), maintained with
    ``applyInPandasWithState``.  Update mode: every trigger re-emits
    each touched group's full current sketch (``(group_key, h60, v,
    weight, n)``; ``n`` strictly increases, so downstream keeps the
    rows with the max ``n`` per group — the Elasticsearch-upsert
    consumption model the reference's stats follow).

    Exactness contract (tested): after any sequence of micro-batches,
    a group's emitted sketch EQUALS the batch
    ``quantile_level_sketch`` over the same rows — level-sampling
    state is arrival-order- and batching-independent, unlike KLL
    (whose compaction sequence depends on feed granularity; that is
    why THIS sketch is the streaming one).  State per group is O(k)
    pairs regardless of stream length — the bounded-state property
    that keeps live p99 monitoring viable on an unbounded stream.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kafka_dead_letter_analyzer_spark.operators.sketches import md5_u60

    keyed = df.select(
        F.col(group_col).cast("string").alias("group_key"),
        md5_u60(F.concat(F.lit(salt), F.col(key).cast("string"))).alias(
            "h60"
        ),
        F.col(value_col).cast("double").alias("v"),
    )
    return keyed.groupBy("group_key").applyInPandasWithState(
        _make_qsketch_fn(int(k)),
        outputStructType="group_key string, h60 long, v double, "
        "weight long, n long",
        stateStructType="n long, hs array<long>, vs array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _make_mg_fn(k: int):
    def _mg_fn(key, pdfs, state) -> Iterator:
        """Maintain one Misra-Gries summary per group key: state = the
        (item, count) dict, folded per batch with the same decrement
        rule the batch operator uses (add batch value_counts, subtract
        the (k+1)-th largest, keep positive).  The summary obeys the
        deterministic MG guarantees for the stream prefix: counts are
        certified lower bounds and every item with frequency above
        ``(n - sum(counts))/(k+1)`` is present — n is tracked exactly
        in state and emitted, so the certificate travels with every
        emission.  Unlike the level sketch, the summary CONTENT in the
        decrement regime depends on batch boundaries (inherent to MG);
        in the exact regime (k >= distinct items) it equals the exact
        counts, which is the convergence test's pin.  State is O(k)."""
        import pandas as pd

        if state.exists:
            n, items, counts = state.get
            summary = dict(zip(items, counts))
        else:
            n, summary = 0, {}
        for pdf in pdfs:
            n += len(pdf)
            vc = pdf["item"].value_counts()
            for item, c in vc.items():
                summary[item] = summary.get(item, 0) + int(c)
            if len(summary) > k:
                thr = sorted(summary.values(), reverse=True)[k]
                summary = {
                    i: c - thr for i, c in summary.items() if c > thr
                }
        state.update((n, list(summary), [summary[i] for i in summary]))
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])] * len(summary),
                "item": list(summary),
                "count_lower": list(summary.values()),
                "n": [n] * len(summary),
            }
        )

    return _mg_fn


def streaming_heavy_hitters(
    df: DataFrame,
    group_col: str,
    key: str,
    k: int = 64,
) -> DataFrame:
    """Live per-group Misra-Gries heavy hitters — the streaming half of
    ``operators/sketches.py::mg_summary`` via
    ``applyInPandasWithState``: O(k) state per group, update-mode
    emission of each touched group's full current summary ``(group_key,
    item, count_lower, n)``; ``n`` strictly increases, so downstream
    keeps the max-n rows per group (upsert consumption).  Deterministic
    MG guarantees hold for every emission (certified lower bounds,
    self-certifying error ``(n - sum(count_lower))/(k+1)``); in the
    exact regime (k at least the live distinct count) the emission IS
    the exact running counts and equals the batch operator —
    convergence-tested.  The complement to
    :func:`streaming_topk_types` (which keeps exact counts for a
    FIXED key set) for unbounded key domains: state stays k entries no
    matter how many distinct keys the stream ever carries."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = df.select(
        F.col(group_col).cast("string").alias("group_key"),
        F.col(key).cast("string").alias("item"),
    ).filter(F.col("item").isNotNull())
    return keyed.groupBy("group_key").applyInPandasWithState(
        _make_mg_fn(int(k)),
        outputStructType="group_key string, item string, "
        "count_lower long, n long",
        stateStructType="n long, items array<string>, counts array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Online CUSUM rate-shift alerts (streaming dual of operators/drift.py)
# ---------------------------------------------------------------------------


def _make_cusum_fn(bus: int, ref_up: int, ref_dn: int, threshold: int):
    def _cusum_fn(key, pdfs, state) -> Iterator:
        """Per-key online two-sided CUSUM over per-bucket event counts.

        State: (cur long, x long, d_up long, d_dn long) — the bucket
        currently accumulating, its count so far, and the two detector
        statistics. A bucket FOLDS when a later bucket first appears;
        empty buckets between events fold in closed form (the up side
        decays by g*ref_up floored at zero; the down side grows by
        ref_dn per empty bucket, and every threshold crossing inside
        the gap is located exactly at ceil((h - d)/ref_dn) buckets in —
        an outage keeps re-alarming once per restart cycle, which is
        the pager semantics). Late rows (bucket <= current) fold into
        the CURRENT bucket — state-v1 has no event-time timers; the
        same arrival-order approximation as the first-example operator.
        After each crossing the crossed side resets to 0 (classic CUSUM
        restart), so repeated incidents re-alert."""
        import pandas as pd

        if state.exists:
            cur, x, d_up, d_dn = state.get
            if cur < 0:  # sentinel: no bucket ever seen for this key
                cur = None
        else:
            cur, x, d_up, d_dn = None, 0, 0, 0
        alerts: list[tuple] = []

        def fold(cnt: int, b: int) -> None:
            nonlocal d_up, d_dn
            d_up = max(0, d_up + cnt - ref_up)
            if threshold > 0 and d_up >= threshold:
                alerts.append(("up", b * bus, d_up))
                d_up = 0
            d_dn = max(0, d_dn + ref_dn - cnt)
            if threshold > 0 and d_dn >= threshold:
                alerts.append(("down", b * bus, d_dn))
                d_dn = 0

        def fold_gap(g: int, start: int) -> None:
            nonlocal d_up, d_dn
            d_up = max(0, d_up - g * ref_up)
            if ref_dn <= 0:
                return
            if threshold <= 0:
                # alerts disabled — fold()'s threshold <= 0 contract.
                # Without this guard need = threshold - d_dn <= 0 makes
                # j <= 0 below and the crossing loop never terminates.
                d_dn += g * ref_dn
                return
            left, b = g, start
            while left > 0:
                need = threshold - d_dn
                j = -(-need // ref_dn)  # ceil
                if j > left:
                    d_dn += left * ref_dn
                    return
                d_dn += j * ref_dn
                alerts.append(("down", (b + j - 1) * bus, d_dn))
                d_dn = 0
                left -= j
                b += j

        counts: dict[int, int] = {}
        for pdf in pdfs:
            for tb, c in pdf["tb"].value_counts().items():
                counts[int(tb)] = counts.get(int(tb), 0) + int(c)
        for tb in sorted(counts):
            if cur is None:
                cur, x = tb, 0
            if tb <= cur:
                x += counts[tb]
                continue
            fold(x, cur)
            if tb - cur - 1 > 0:
                fold_gap(tb - cur - 1, cur + 1)
            cur, x = tb, counts[tb]
        state.update((cur if cur is not None else -1, x, d_up, d_dn))
        if alerts:
            yield pd.DataFrame(
                {
                    "topic": [key[0]] * len(alerts),
                    "type": [key[1]] * len(alerts),
                    "direction": [a[0] for a in alerts],
                    "bucket_start_us": [a[1] for a in alerts],
                    "stat": [a[2] for a in alerts],
                }
            )

    return _cusum_fn


def streaming_cusum_alerts(
    enriched: DataFrame,
    bucket_us: int = 60_000_000,
    ref: int = 10,
    slack: int = 2,
    threshold: int = 20,
) -> DataFrame:
    """Online two-sided CUSUM rate-shift alerts per (topic, type) — the
    streaming dual of ``operators/drift.py::cusum_changepoint``. The
    batch form scans a finished timeline for the ONE most decisive
    shift; this one runs the textbook recursive detector
    ``D = max(0, D + x - k)`` live, with an integer reference rate
    ``ref`` events/bucket and allowance ``slack`` (up side alarms on
    sustained rate above ref+slack, down side below ref-slack), alarm
    threshold ``threshold`` (in event units x buckets). Integer
    state — four longs per key, bounded by live keys, not traffic;
    empty stretches between events fold in closed form, so a long
    outage costs O(crossings), not O(buckets)."""
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.expr(
            f"unix_micros(context.timestamp) DIV {bucket_us}"
        ).alias("tb"),
    )
    return keyed.groupBy("topic", "type").applyInPandasWithState(
        _make_cusum_fn(
            bucket_us, ref + slack, max(0, ref - slack), threshold
        ),
        outputStructType=(
            "topic string, type string, direction string,"
            " bucket_start_us long, stat long"
        ),
        stateStructType="cur long, x long, d_up long, d_dn long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming mix-drift monitor (TVD vs a baseline mix, per closed bucket)
# ---------------------------------------------------------------------------


def _make_mix_drift_fn(baseline: dict, bus: int):
    b_total = sum(baseline.values())
    if b_total <= 0:
        raise ValueError("mix_drift: baseline must have positive mass")

    def _tvd_ppm(counts: dict, n: int) -> int:
        # sum |c*B - b*n| * 1e6 / (2*n*B), exact in Python bigints
        num = 0
        for cat in set(counts) | set(baseline):
            c = counts.get(cat, 0)
            b = baseline.get(cat, 0)
            num += abs(c * b_total - b * n)
        return num * 1_000_000 // (2 * n * b_total)

    def _mix_drift_fn(key, pdfs, state) -> Iterator:
        """Per-key bucketed category-mix monitor: state = the OPEN
        bucket's (cats, cnts) arrays plus its index. A bucket emits
        when a later bucket first appears (same closing rule as the
        CUSUM detector); empty gap buckets have no mix and emit
        nothing; late rows fold into the open bucket. The emitted
        tvd_ppm is the exact integer TVD between the closed bucket's
        mix and the fixed baseline mix — Python bigint arithmetic, no
        floats anywhere."""
        import pandas as pd

        if state.exists:
            cur, cats, cnts = state.get
            counts = dict(zip(list(cats), (int(c) for c in cnts)))
            if cur < 0:
                cur = None
        else:
            cur, counts = None, {}
        out = []

        def close(b: int, cts: dict) -> None:
            n = sum(cts.values())
            if n > 0:
                out.append((b * bus, n, _tvd_ppm(cts, n)))

        per_bucket: dict[int, dict] = {}
        for pdf in pdfs:
            for tb, cat in zip(pdf["tb"], pdf["cat"]):
                per_bucket.setdefault(int(tb), {})
                d = per_bucket[int(tb)]
                d[cat] = d.get(cat, 0) + 1
        for tb in sorted(per_bucket):
            if cur is None:
                cur = tb
            if tb <= cur:
                for cat, c in per_bucket[tb].items():
                    counts[cat] = counts.get(cat, 0) + c
                continue
            close(cur, counts)
            cur, counts = tb, dict(per_bucket[tb])
        state.update(
            (
                cur if cur is not None else -1,
                list(counts.keys()),
                [counts[c] for c in counts],
            )
        )
        if out:
            yield pd.DataFrame(
                {
                    "topic": [key[0]] * len(out),
                    "bucket_start_us": [o[0] for o in out],
                    "n": [o[1] for o in out],
                    "tvd_ppm": [o[2] for o in out],
                }
            )

    return _mix_drift_fn


def streaming_mix_drift(
    enriched: DataFrame,
    baseline: dict,
    bucket_us: int = 60_000_000,
) -> DataFrame:
    """Per-topic, per-closed-bucket total-variation distance between
    the bucket's error-TYPE mix and a fixed ``baseline`` mix
    (``{type: expected_count_or_weight}``) — the streaming dual of
    ``operators/drift.py::tvd_drift``: the batch form compares early
    vs late halves of a finished table, this one scores every time
    bucket against the mix you expect, live.  A mix shift with a FLAT
    rate (errors re-routing from one type to another) is invisible to
    rate detectors like CUSUM and is exactly what TVD sees.

    Output rows ``(topic, bucket_start_us, n, tvd_ppm)`` — one per
    CLOSED bucket (buckets close when a later bucket first appears;
    empty buckets have no mix and emit nothing).  tvd_ppm is exact
    integer algebra end-to-end (Python bigints inside the state fn, no
    float ever).  State per key = the open bucket's category counts —
    bounded by the error-type domain, not traffic.  Alerting is a
    downstream ``filter(tvd_ppm > h)``; emitting every bucket keeps
    the surface a monitoring time series, not just alarms."""
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("cat"),
        F.expr(
            f"unix_micros(context.timestamp) DIV {bucket_us}"
        ).alias("tb"),
    )
    return keyed.groupBy("topic").applyInPandasWithState(
        _make_mix_drift_fn(dict(baseline), bucket_us),
        outputStructType=(
            "topic string, bucket_start_us long, n long, tvd_ppm long"
        ),
        stateStructType="cur long, cats array<string>, cnts array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming numeric-drift monitor (W1 vs a baseline histogram)
# ---------------------------------------------------------------------------


def _make_w1_drift_fn(baseline: dict, bus: int, max_values: int):
    b_items = sorted((int(v), int(c)) for v, c in baseline.items())
    b_total = sum(c for _, c in b_items)
    if b_total <= 0:
        raise ValueError("w1_drift: baseline must have positive mass")

    def _w1_e6(counts: dict, n: int) -> int:
        # exact sum |F_cur - F_base| * gap over the merged support,
        # cleared of denominators: sum |cum_c*B - cum_b*n| * gap
        # / (n*B), in Python bigints
        support = sorted(set(counts) | {v for v, _ in b_items})
        bmap = dict(b_items)
        num = cum_c = cum_b = 0
        for v, nxt in zip(support, support[1:]):
            cum_c += counts.get(v, 0)
            cum_b += bmap.get(v, 0)
            num += abs(cum_c * b_total - cum_b * n) * (nxt - v)
        return num * 1_000_000 // (n * b_total)

    def _w1_drift_fn(key, pdfs, state) -> Iterator:
        """Same bucket-closing protocol as the mix-drift monitor, over
        an integer VALUE histogram instead of a category mix; the
        emitted distance weighs HOW FAR the value mass moved (a p99
        latency regression with a stable mean moves W1, not the
        mean-rate detectors). State per key = the open bucket's value
        histogram; max_values bounds it (RAISES — quantize upstream,
        the same contract as kendall's max_cells)."""
        import pandas as pd

        if state.exists:
            cur, vs, cs = state.get
            counts = dict(zip((int(v) for v in vs),
                              (int(c) for c in cs)))
            if cur < 0:
                cur = None
        else:
            cur, counts = None, {}
        out = []

        def close(b: int, cts: dict) -> None:
            n = sum(cts.values())
            if n > 0:
                out.append((b * bus, n, _w1_e6(cts, n)))

        per_bucket: dict[int, dict] = {}
        for pdf in pdfs:
            for tb, v in zip(pdf["tb"], pdf["v"]):
                d = per_bucket.setdefault(int(tb), {})
                d[int(v)] = d.get(int(v), 0) + 1
        for tb in sorted(per_bucket):
            if cur is None:
                cur = tb
            if tb <= cur:
                for v, c in per_bucket[tb].items():
                    counts[v] = counts.get(v, 0) + c
            else:
                close(cur, counts)
                cur, counts = tb, dict(per_bucket[tb])
            if len(counts) > max_values:
                raise ValueError(
                    f"w1_drift: open bucket holds {len(counts)} distinct"
                    f" values (> max_values={max_values}); quantize the"
                    " value upstream"
                )
        state.update(
            (
                cur if cur is not None else -1,
                list(counts.keys()),
                [counts[v] for v in counts],
            )
        )
        if out:
            yield pd.DataFrame(
                {
                    "topic": [key[0]] * len(out),
                    "bucket_start_us": [o[0] for o in out],
                    "n": [o[1] for o in out],
                    "w1_e6": [o[2] for o in out],
                }
            )

    return _w1_drift_fn


def streaming_w1_drift(
    df: DataFrame,
    value_expr: str,
    baseline: dict,
    key_col: str = "topic",
    ts_expr: str = "unix_micros(context.timestamp)",
    bucket_us: int = 60_000_000,
    max_values: int = 10_000,
) -> DataFrame:
    """Per-key, per-closed-bucket Wasserstein-1 distance between the
    bucket's integer-value histogram and a fixed ``baseline``
    histogram (``{value: count_or_weight}``) — the streaming dual of
    ``operators/drift.py::wasserstein_drift`` and the numeric member
    of the live drift trio (CUSUM = rate, TVD = category mix, W1 =
    value distribution).  A latency distribution whose p99 doubles
    while the mean holds moves W1 and nothing else.

    ``value_expr``/``ts_expr`` are SQL expressions over the input
    frame (the value must be integer-typed — floats have no exact
    cross-engine W1).  Output ``(topic, bucket_start_us, n, w1_e6)``
    per closed bucket, exact bigint arithmetic end-to-end; state =
    the open bucket's histogram, bounded by ``max_values`` (RAISES
    past it — quantize upstream)."""
    keyed = df.select(
        F.col(key_col).alias("topic"),
        F.expr(f"CAST(({value_expr}) AS BIGINT)").alias("v"),
        F.expr(f"({ts_expr}) DIV {bucket_us}").alias("tb"),
    ).filter(F.col("v").isNotNull() & F.col("tb").isNotNull())
    return keyed.groupBy("topic").applyInPandasWithState(
        _make_w1_drift_fn(dict(baseline), bucket_us, int(max_values)),
        outputStructType=(
            "topic string, bucket_start_us long, n long, w1_e6 long"
        ),
        stateStructType="cur long, vs array<long>, cs array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming trailing-window Theil-Sen trend alerts
# ---------------------------------------------------------------------------


def _make_trend_fn(bus: int, window: int, thr_num: int, thr_den: int):
    def _trend_fn(key, pdfs, state) -> Iterator:
        """Trailing-window Theil-Sen: state = the last ``window``
        CLOSED buckets' counts (plus the open bucket). On every bucket
        close, the median pairwise slope over the trailing window
        (zeros filled for silent buckets) is recomputed in exact
        Python rationals — O(window^2) integer pairs, window <= 64 by
        contract — and a row is emitted when |slope| >= thr_num/thr_den
        (cross-multiplied compare, no division). The emitted slope is
        the exact (dy, dx) pair of the selected median."""
        from fractions import Fraction

        import pandas as pd

        if state.exists:
            cur, ts_, xs_ = state.get
            hist = dict(zip((int(t) for t in ts_), (int(x) for x in xs_)))
            if cur < 0:
                cur = None
        else:
            cur, hist = None, {}
        out = []

        def close(b: int, cnt: int) -> None:
            hist[b] = cnt
            lo = b - window + 1
            for t in [t for t in hist if t < lo]:
                del hist[t]
            dense = [(t, hist.get(t, 0)) for t in range(max(lo, min(hist)), b + 1)]
            if len(dense) < 2:
                return
            slopes = []
            for i in range(len(dense)):
                for j in range(i + 1, len(dense)):
                    dy = dense[j][1] - dense[i][1]
                    dx = dense[j][0] - dense[i][0]
                    slopes.append((Fraction(dy, dx), dy, dx))
            slopes.sort()
            dy, dx = slopes[(len(slopes) + 1) // 2 - 1][1:]
            # |dy/dx| >= thr_num/thr_den  <=>  |dy|*thr_den >= thr_num*dx
            if abs(dy) * thr_den >= thr_num * dx:
                out.append((b * bus, dy, dx, sum(x for _, x in dense)))

        per_bucket: dict[int, int] = {}
        for pdf in pdfs:
            for tb in pdf["tb"]:
                per_bucket[int(tb)] = per_bucket.get(int(tb), 0) + 1
        cnt_open = hist.pop(cur, 0) if cur is not None else 0
        for tb in sorted(per_bucket):
            if cur is None:
                cur, cnt_open = tb, 0
            if tb <= cur:
                cnt_open += per_bucket[tb]
                continue
            close(cur, cnt_open)
            # close the first `window` gap buckets individually (each
            # sees a distinct decaying window); past that the trailing
            # window is ALL ZEROS, so every further close evaluates the
            # identical slope-0 window — close ONE canonical bucket and
            # replicate its emission (nonempty only when thr_num == 0)
            # instead of O(gap * window^2) Python work: one stray
            # far-future timestamp at minute buckets must not stall the
            # state function for this key.
            gap_end = tb - 1
            head_end = min(cur + window, gap_end)
            for gap_b in range(cur + 1, head_end + 1):
                close(gap_b, 0)
            if head_end < gap_end:
                before = len(out)
                close(head_end + 1, 0)
                if len(out) > before:
                    _, dy0, dx0, wn0 = out[-1]
                    out.extend(
                        (b * bus, dy0, dx0, wn0)
                        for b in range(head_end + 2, gap_end + 1)
                    )
                # seed the skipped zero buckets that future windows can
                # still see (at most window-1 entries) — close() reads
                # its left edge from hist, so holes would shrink the
                # window below its true all-zero span
                for t in range(max(tb - window + 1, head_end + 2), tb):
                    hist[t] = 0
            cur, cnt_open = tb, per_bucket[tb]
        if cur is not None:
            hist[cur] = cnt_open  # stash the open bucket in the arrays
        keep = sorted(hist)[-(window + 1):]
        state.update(
            (
                cur if cur is not None else -1,
                keep,
                [hist[t] for t in keep],
            )
        )
        if out:
            yield pd.DataFrame(
                {
                    "topic": [key[0]] * len(out),
                    "type": [key[1]] * len(out),
                    "bucket_start_us": [o[0] for o in out],
                    "slope_num": [o[1] for o in out],
                    "slope_den": [o[2] for o in out],
                    "window_n": [o[3] for o in out],
                }
            )

    return _trend_fn


def streaming_trend_alerts(
    enriched: DataFrame,
    bucket_us: int = 60_000_000,
    window: int = 16,
    thr_num: int = 1,
    thr_den: int = 1,
) -> DataFrame:
    """Trailing-window Theil-Sen trend alerts per (topic, type) — the
    streaming dual of ``operators/drift.py::theilsen_trend``: on every
    closed bucket, the exact median pairwise slope over the last
    ``window`` buckets (zeros filled; an outage IS a downward trend),
    emitted when ``|slope| >= thr_num/thr_den`` events/bucket^2 by
    cross-multiplied integer compare.  The robustness matters exactly
    here: one retry-storm bucket inside the window cannot fake a trend
    alert (29.3% breakdown), where an EWMA-slope alert fires on it.
    State per key = at most window+1 (bucket, count) pairs; the
    O(window^2) slope enumeration runs in Python bigints per CLOSE,
    not per record — window <= 64 keeps that at <= 2k pairs.  The
    first ``window`` empty buckets inside a gap close individually
    (each sees a distinct decaying window); past that the trailing
    window is all zeros and every further close is the identical
    slope-0 evaluation, so the gap folds in O(window^2) total — its
    emissions (nonempty only when thr_num == 0) are replicated, not
    recomputed, and one stray far-future timestamp cannot stall the
    key.  For pure outage paging at coarse granularity prefer
    streaming_cusum_alerts, whose gap fold is closed-form."""
    if not (2 <= window <= 64):
        raise ValueError("streaming_trend_alerts: need 2 <= window <= 64")
    if thr_den < 1 or thr_num < 0:
        raise ValueError(
            "streaming_trend_alerts: need thr_num >= 0, thr_den >= 1"
        )
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.expr(
            f"unix_micros(context.timestamp) DIV {bucket_us}"
        ).alias("tb"),
    )
    return keyed.groupBy("topic", "type").applyInPandasWithState(
        _make_trend_fn(bucket_us, int(window), int(thr_num), int(thr_den)),
        outputStructType=(
            "topic string, type string, bucket_start_us long,"
            " slope_num long, slope_den long, window_n long"
        ),
        stateStructType="cur long, ts array<long>, xs array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# DGIM exponential histogram: sliding-window counts in O(log W) state
# ---------------------------------------------------------------------------


def _dgim_add(sizes: list, tss: list, ts: int, k: int) -> None:
    """Fold one event at ``ts`` into a DGIM bucket list (oldest ..
    newest): append a size-1 bucket, then cascade-merge the two OLDEST
    buckets of any size that exceeds k+1 occurrences (the merged
    bucket keeps the newer closing timestamp)."""
    sizes.append(1)
    tss.append(ts)
    size = 1
    while True:
        idxs = [i for i, s in enumerate(sizes) if s == size]
        if len(idxs) <= k + 1:
            break
        i, j = idxs[0], idxs[1]  # oldest two (list is old->new)
        sizes[j] = size * 2
        del sizes[i]
        del tss[i]
        size *= 2


def _make_dgim_fn(window_us: int, k: int):
    def _dgim_fn(key, pdfs, state) -> Iterator:
        """Datar-Gionis-Indyk-Motwani exponential histogram per key:
        state = O(k * log(events-in-window)) buckets of power-of-two
        sizes, newest first.  Invariant: at most k+1 buckets of each
        size; when a size overflows, the two OLDEST of that size merge
        into one of double size (their timestamp = the newer one's).
        The window estimate counts all buckets fully except the oldest
        STRADDLING bucket, which contributes half its size — absolute
        error <= oldest_size/2, i.e. relative error <= 1/(2k) once the
        window holds >= 2^ceil(log k) events.  Rows are folded in
        timestamp order within the batch; state is two long arrays."""
        import pandas as pd

        if state.exists:
            last_ts, sizes_, ts_ = state.get
            sizes = [int(s) for s in sizes_]  # oldest .. newest
            tss = [int(t) for t in ts_]
        else:
            last_ts, sizes, tss = -1, [], []

        events = []
        for pdf in pdfs:
            events.extend(int(t) for t in pdf["us"])
        for ts in sorted(events):
            if ts > last_ts:
                last_ts = ts
            _dgim_add(sizes, tss, ts, k)
        # expire buckets wholly outside the window
        cutoff = last_ts - window_us
        while tss and tss[0] <= cutoff:
            del tss[0]
            del sizes[0]
        state.update((last_ts, sizes, tss))
        est = sum(sizes) - (sizes[0] // 2 if sizes else 0)
        yield pd.DataFrame(
            {
                "topic": [key[0]],
                "type": [key[1]],
                "as_of_us": [last_ts],
                "est_count": [est],
                "n_buckets": [len(sizes)],
            }
        )

    return _dgim_fn


def streaming_sliding_count(
    enriched: DataFrame,
    window_us: int = 3_600_000_000,
    k: int = 8,
) -> DataFrame:
    """Approximate SLIDING-window event count per (topic, type) in
    O(k log W) state — the DGIM exponential histogram (Datar, Gionis,
    Indyk, Motwani, SICOMP 2002).  Spark's own windowed aggregation
    answers TUMBLING/hopping windows with state per open window; the
    true trailing-window count ("dead letters in the LAST hour, as of
    now") over an unbounded stream needs either every event buffered
    (exact, O(W) state) or this: power-of-two buckets with at most k+1
    per size, merged oldest-first, giving relative error <= 1/(2k)
    with a few dozen longs of state per key regardless of rate.

    Emits ``(topic, type, as_of_us, est_count, n_buckets)`` per
    touched key per micro-batch — a live gauge, bounded-state by
    construction; deterministic given the event multiset (rows fold in
    timestamp order).  Late rows older than the window expire
    immediately; k trades state for accuracy."""
    if k < 1:
        raise ValueError("streaming_sliding_count: k must be >= 1")
    if window_us < 1:
        raise ValueError("streaming_sliding_count: window_us must be >= 1")
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.expr("unix_micros(context.timestamp)").alias("us"),
    )
    return keyed.groupBy("topic", "type").applyInPandasWithState(
        _make_dgim_fn(int(window_us), int(k)),
        outputStructType=(
            "topic string, type string, as_of_us long,"
            " est_count long, n_buckets long"
        ),
        stateStructType="last_ts long, sizes array<long>, tss array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def _make_dgim_sum_fn(window_us: int, k: int, weight_bits: int):
    def _dgim_sum_fn(key, pdfs, state) -> Iterator:
        """Bit-plane DGIM: one exponential histogram PER BIT of the
        integer weight — an event of weight w inserts a size-1 bucket
        into plane b for every set bit b, so plane b's window count is
        the number of in-window events with bit b set and the window
        SUM is sum_b 2^b * count_b.  Each plane carries DGIM's own
        absolute bound (oldest straddling bucket / 2), so the summed
        bound err = sum_b 2^b * oldest_b//2 <= (1/2k) * true window
        sum — the estimate ships its own certificate.  State is flat
        (plane, size, ts) triples: O(weight_bits * k * log W) longs per
        key, independent of rate."""
        import pandas as pd

        if state.exists:
            last_ts, planes_, sizes_, tss_ = state.get
            per: dict[int, tuple[list, list]] = {}
            for b, s, t in zip(planes_, sizes_, tss_):
                per.setdefault(int(b), ([], []))
                per[int(b)][0].append(int(s))
                per[int(b)][1].append(int(t))
        else:
            last_ts, per = -1, {}

        events: list[tuple[int, int]] = []
        for pdf in pdfs:
            for ts, w in zip(pdf["us"], pdf["w"]):
                w = int(w)
                if w < 0 or w >> weight_bits:
                    raise ValueError(
                        f"streaming_sliding_sum: weight {w} outside"
                        f" [0, 2^{weight_bits}); rescale the weight or"
                        " raise weight_bits"
                    )
                events.append((int(ts), w))
        for ts, w in sorted(events):
            if ts > last_ts:
                last_ts = ts
            b = 0
            while w:
                if w & 1:
                    sizes, tss = per.setdefault(b, ([], []))
                    _dgim_add(sizes, tss, ts, k)
                w >>= 1
                b += 1
        cutoff = last_ts - window_us
        est = err = nb = 0
        flat_p: list[int] = []
        flat_s: list[int] = []
        flat_t: list[int] = []
        for b in sorted(per):
            sizes, tss = per[b]
            while tss and tss[0] <= cutoff:
                del tss[0]
                del sizes[0]
            if not sizes:
                continue
            est += (1 << b) * (sum(sizes) - sizes[0] // 2)
            err += (1 << b) * (sizes[0] // 2)
            nb += len(sizes)
            flat_p.extend([b] * len(sizes))
            flat_s.extend(sizes)
            flat_t.extend(tss)
        state.update((last_ts, flat_p, flat_s, flat_t))
        yield pd.DataFrame(
            {
                "topic": [key[0]],
                "type": [key[1]],
                "as_of_us": [last_ts],
                "est_sum": [est],
                "err_bound": [err],
                "n_buckets": [nb],
            }
        )

    return _dgim_sum_fn


def streaming_sliding_sum(
    enriched: DataFrame,
    weight_expr: str,
    window_us: int = 3_600_000_000,
    k: int = 8,
    weight_bits: int = 20,
) -> DataFrame:
    """Approximate SLIDING-window weighted sum per (topic, type) —
    "how many BYTES of dead letters in the last hour, as of now" —
    in O(weight_bits * k * log W) state: the bit-plane extension of
    :func:`streaming_sliding_count` (NOTES round-7 candidate).  The
    integer weight (``weight_expr``, a SQL expression over the
    enriched stream yielding a non-negative integer < 2^weight_bits)
    splits into its binary planes; each plane runs an independent DGIM
    exponential histogram over the events with that bit set, and the
    window sum reassembles as ``sum_b 2^b * plane_count_b``.

    Emits ``(topic, type, as_of_us, est_sum, err_bound, n_buckets)``
    per touched key per micro-batch.  ``err_bound`` is the exact
    summed straddling-bucket bound — ``|est_sum - true_sum| <=
    err_bound <= true_sum / (2k)`` once each active plane's window
    holds >= ~2k events — so every emission certifies itself, and in
    the exact regime (k+1 >= buckets per size everywhere: no merges
    ever) ``est_sum`` EQUALS the true sliding sum with err_bound 0
    (differential-tested).  Rows with NULL/invalid weights raise
    (honest contract; filter upstream to opt out)."""
    if k < 1:
        raise ValueError("streaming_sliding_sum: k must be >= 1")
    if window_us < 1:
        raise ValueError("streaming_sliding_sum: window_us must be >= 1")
    if not (1 <= weight_bits <= 62):
        raise ValueError(
            "streaming_sliding_sum: weight_bits must be in [1, 62]"
        )
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.expr("unix_micros(context.timestamp)").alias("us"),
        F.expr(f"CAST(({weight_expr}) AS BIGINT)").alias("w"),
    )
    return keyed.groupBy("topic", "type").applyInPandasWithState(
        _make_dgim_sum_fn(int(window_us), int(k), int(weight_bits)),
        outputStructType=(
            "topic string, type string, as_of_us long, est_sum long,"
            " err_bound long, n_buckets long"
        ),
        stateStructType=(
            "last_ts long, planes array<long>, sizes array<long>,"
            " tss array<long>"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming seasonal (hour-of-day) baseline — the live twin of
# queries.py::x_seasonal_anomaly
# ---------------------------------------------------------------------------


def _make_seasonal_fn(history_days: int, max_gap_closes: int):
    def _seasonal_fn(key, pdfs, state) -> Iterator:
        """Per-key seasonal baseline over (day, hour-of-day) buckets.

        State: the open bucket (linear hour index + count) plus the
        POSITIVE closed-bucket counts of the last ``history_days`` (+1
        — the oldest in-window day survives until the closing day
        itself records, so sibling hours of one day all read the same
        baseline) days — at most (history_days + 1) x 24 (day, hod,
        cnt) triples, the
        bounded per-key state the batch detector cannot offer (it
        re-reads history every run).  A bucket CLOSES when a later
        bucket first appears (late rows fold into the open bucket —
        the arrival-order approximation every state-v1 operator here
        shares).  On close, the bucket's count is compared against the
        LOWER MEDIAN of the strictly-prior days' positive counts for
        the SAME hour of day — exactly x_seasonal_anomaly's algebra
        (zeros never enter the history; silent-hour closes emit
        ratio 0 against the existing baseline; hours with no baseline
        emit nothing).  ratio_e6 uses the same two-step long division
        as the batch query, so the streaming emission for a closed day
        equals the batch rows for that day bit-for-bit
        (differential-tested).  Gap buckets close individually up to
        ``max_gap_closes`` per gap (each can emit a ratio-0 outage row
        for a baselined hour); past that the remainder is skipped —
        zeros never mutate state, so skipping loses only repeated
        ratio-0 emissions, never correctness of later baselines."""
        import pandas as pd

        if state.exists:
            cur, cur_cnt, days_, hods_, cnts_ = state.get
            hist = {
                (int(d), int(h)): int(c)
                for d, h, c in zip(days_, hods_, cnts_)
            }
            if cur < 0:
                cur = None
        else:
            cur, cur_cnt, hist = None, 0, {}
        out: list[tuple] = []

        def close(tb: int, cnt: int) -> None:
            day, hod = divmod(tb, 24)
            # the window filter here (not just prune-on-record) matters
            # after silent days: zeros never record, so stale entries
            # can outlive their window until the next positive close
            prior = sorted(
                c
                for (d, h), c in hist.items()
                if h == hod and day - history_days <= d < day
            )
            if prior:
                med = prior[(len(prior) + 1) // 2 - 1]
                ratio = ((cnt * 1000) // med) * 1000 + (
                    ((cnt * 1000) % med) * 1000
                ) // med
                out.append((day, hod, cnt, med, len(prior), ratio))
            if cnt > 0:
                hist[(day, hod)] = cnt
                # keep day - history_days itself: OTHER hours of the
                # closing day are still open and their windows read
                # [day - history_days, day - 1] — pruning one day
                # tighter made the median arrival-order-dependent
                # (different hods of one day closing in different
                # orders saw different baselines)
                lo = day - history_days
                for k in [k for k in hist if k[0] < lo]:
                    del hist[k]

        per_bucket: dict[int, int] = {}
        for pdf in pdfs:
            for tb in pdf["tb"]:
                per_bucket[int(tb)] = per_bucket.get(int(tb), 0) + 1
        for tb in sorted(per_bucket):
            if cur is None:
                cur, cur_cnt = tb, 0
            if tb <= cur:
                cur_cnt += per_bucket[tb]
                continue
            close(cur, cur_cnt)
            gap_end = min(tb - 1, cur + max_gap_closes)
            for gap_b in range(cur + 1, gap_end + 1):
                close(gap_b, 0)
            cur, cur_cnt = tb, per_bucket[tb]
        state.update(
            (
                cur if cur is not None else -1,
                cur_cnt,
                [d for d, _ in hist],
                [h for _, h in hist],
                [hist[k] for k in hist],
            )
        )
        if out:
            yield pd.DataFrame(
                {
                    "topic": [key[0]] * len(out),
                    "type": [key[1]] * len(out),
                    "day": [o[0] for o in out],
                    "hod": [o[1] for o in out],
                    "cnt": [o[2] for o in out],
                    "med_cnt": [o[3] for o in out],
                    "n_days": [o[4] for o in out],
                    "ratio_e6": [o[5] for o in out],
                }
            )

    return _seasonal_fn


def streaming_seasonal_alerts(
    enriched: DataFrame,
    history_days: int = 28,
    max_gap_closes: int = 168,
) -> DataFrame:
    """Live seasonal (hour-of-day) anomaly baseline per (topic, type) —
    the streaming twin of ``queries.py::x_seasonal_anomaly``, closing
    the drift layer's last batch-only detector family.  On every
    closed hour bucket it emits ``(topic, type, day, hod, cnt,
    med_cnt, n_days, ratio_e6)``: the hour's count against the lower
    median of the same hour's positive counts over the prior
    ``history_days`` days — "is tonight's 2am error rate normal FOR
    2AM", per key, live, with ratio_e6 the same two-step-division
    fixed point as the batch query (1e6 = exactly seasonal norm).

    State per key is BOUNDED: at most ``(history_days + 1) * 24``
    positive bucket counts plus the open bucket — independent of traffic
    volume, the property that keeps a per-key seasonal baseline
    viable on an unbounded stream (the batch detector re-reads all of
    history each run instead).  Emissions for a fully closed day equal
    the batch query's rows for that day anchored there
    (differential-tested on a shared fixture); hours with no prior
    baseline emit nothing and silent hours emit ratio 0, both exactly
    the batch conventions.  Long outages close at most
    ``max_gap_closes`` buckets per gap (zeros never enter the
    history, so the skipped remainder loses only repeated ratio-0
    rows)."""
    if history_days < 1:
        raise ValueError(
            "streaming_seasonal_alerts: history_days must be >= 1"
        )
    if max_gap_closes < 0:
        raise ValueError(
            "streaming_seasonal_alerts: max_gap_closes must be >= 0"
        )
    keyed = enriched.select(
        F.col("error_key.topic").alias("topic"),
        F.col("error_key.type").alias("type"),
        F.expr("unix_micros(context.timestamp) DIV 3600000000").alias("tb"),
    )
    return keyed.groupBy("topic", "type").applyInPandasWithState(
        _make_seasonal_fn(int(history_days), int(max_gap_closes)),
        outputStructType=(
            "topic string, type string, day long, hod long, cnt long,"
            " med_cnt long, n_days long, ratio_e6 long"
        ),
        stateStructType=(
            "cur long, cnt long, days array<long>, hods array<long>,"
            " cnts array<long>"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming stratified quota sample (live twin of sampling.stratified_quota)
# ---------------------------------------------------------------------------


def _make_quota_fn(k: int):
    def _quota_fn(key, pdfs, state) -> Iterator:
        """Bottom-k-by-hash reservoir per stratum: state = the k
        (md5hex, key) pairs smallest in lexicographic (hash, key)
        order, plus the exact row count.  Because membership is a pure
        function of the row SET ("the k smallest hashes seen"), the
        state after any prefix of micro-batches equals the batch
        ``stratified_quota`` of exactly those rows — arrival order and
        batch boundaries cannot change it (the property a true
        random-eviction reservoir lacks, and the reason every sampler
        in this engine draws by hash)."""
        import pandas as pd

        if state.exists:
            n, hs, ids = state.get
            pairs = list(zip(hs, ids))
        else:
            n, pairs = 0, []
        for pdf in pdfs:
            n += len(pdf)
            pairs.extend(zip(pdf["h"], pdf["id"]))
        pairs.sort()
        pairs = pairs[:k]
        state.update(
            (n, [h for h, _ in pairs], [i for _, i in pairs])
        )
        yield pd.DataFrame(
            {
                "stratum": [str(key[0])] * len(pairs),
                "id": [i for _, i in pairs],
                "sample_rank": list(range(1, len(pairs) + 1)),
                "n": [n] * len(pairs),
            }
        )

    return _quota_fn


def streaming_stratified_quota(
    df: DataFrame,
    stratum: str,
    key: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Live stratified quota sample — the streaming twin of
    ``operators/sampling.py::stratified_quota``: at every trigger each
    touched stratum re-emits its current ``min(k, rows-so-far)``
    sample ``(stratum, id, sample_rank, n)`` in update mode (``n``
    strictly increases — downstream keeps the max-n rows per stratum,
    the same upsert consumption model as the sketches).

    EXACTNESS CONTRACT (differential-tested): after any sequence of
    micro-batches, a stratum's emitted id set EQUALS the batch
    ``stratified_quota`` over the same rows, because selection is
    bottom-k by the SAME salted md5 rank with the same (hash, key)
    tiebreak — a deterministic function of the row set, independent of
    arrival order, batching, and partitioning.  State per stratum is
    O(k) strings regardless of stream length; the md5 is computed
    JVM-side (codegen) before the state operator, so the Python side
    only merges sorted pairs."""
    if k < 1:
        raise ValueError("streaming_stratified_quota: k must be >= 1")
    from kafka_dead_letter_analyzer_spark.operators.sampling import (
        _salted_key,
    )

    keyed = df.select(
        F.col(stratum).cast("string").alias("stratum"),
        F.md5(_salted_key(F.col(key), salt)).alias("h"),
        F.col(key).cast("string").alias("id"),
    ).filter(F.col("id").isNotNull())
    return keyed.groupBy("stratum").applyInPandasWithState(
        _make_quota_fn(int(k)),
        outputStructType=(
            "stratum string, id string, sample_rank long, n long"
        ),
        stateStructType="n long, hs array<string>, ids array<string>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming ordered funnel (live twin of temporal.funnel_steps)
# ---------------------------------------------------------------------------


def _make_funnel_fn(steps: list, within_us):
    k = len(steps)

    def _funnel_fn(key, pdfs, state) -> Iterator:
        """Per-key first-touch funnel chain: state = the k anchor
        timestamps (-1 = step not yet reached).  Rows fold in
        event-time order within the batch; the chain's first UNSET
        step is the only advance point, and an event advances it when
        it matches that step's type and falls strictly after (and
        within the bound of) the previous anchor.  Under ts-ordered
        arrival this reproduces the batch operator's first-touch
        anchors exactly (the first feasible event seen IS the earliest
        feasible event); late rows that precede an existing anchor are
        ignored — the arrival-order approximation every state-v1
        operator here shares.  Emits one append row per step ADVANCE
        (key, step_idx, step, anchor_us); state is k longs."""
        import pandas as pd

        if state.exists:
            anchors = [int(a) for a in state.get[0]]
        else:
            anchors = [-1] * k
        rows: list[tuple[int, str]] = []
        for pdf in pdfs:
            rows.extend(
                (int(u), str(s)) for u, s in zip(pdf["us"], pdf["st"])
            )
        out: list[tuple[int, int]] = []
        j = anchors.index(-1) if -1 in anchors else k
        for us, st in sorted(rows):
            if j >= k:
                break
            if st != steps[j]:
                continue
            if j > 0:
                prev = anchors[j - 1]
                if us <= prev:
                    continue
                if within_us is not None and us > prev + within_us:
                    continue
            anchors[j] = us
            out.append((j, us))
            j += 1
        state.update((anchors,))
        if out:
            yield pd.DataFrame(
                {
                    "k": [str(key[0])] * len(out),
                    "step_idx": [i + 1 for i, _ in out],
                    "step": [steps[i] for i, _ in out],
                    "anchor_us": [u for _, u in out],
                }
            )

    return _funnel_fn


def streaming_funnel(
    df: DataFrame,
    steps: list[str],
    key: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    within_us: int | None = None,
) -> DataFrame:
    """Live ordered funnel — the streaming twin of
    ``operators/temporal.py::funnel_steps``: one append-mode row per
    key per step ADVANCE ``(k, step_idx, step, anchor_us)``, under the
    same FIRST-TOUCH semantics (step i anchors at the first feasible
    event strictly after — and within ``within_us`` of — step i-1's
    anchor).  Downstream counts distinct keys per step_idx for the
    live conversion board; because each (key, step) emits at most
    once, the count is a plain streaming aggregate.

    EXACTNESS: under event-time-ordered arrival the anchors equal the
    batch operator's (the first feasible event seen is the earliest
    feasible event), differential-tested per step against
    funnel_steps on the same rows; out-of-order rows older than an
    already-set anchor are ignored (arrival-order approximation,
    documented).  State per key is exactly ``len(steps)`` longs —
    independent of traffic, the property that makes a funnel over an
    unbounded stream viable."""
    if len(steps) < 2:
        raise ValueError("streaming_funnel: need at least 2 steps")
    if within_us is not None and within_us <= 0:
        raise ValueError("streaming_funnel: within_us must be positive")
    keyed = df.filter(
        F.col(ts_col).isNotNull()
        & F.col(state_col).isin(list(steps))
        & F.col(key).isNotNull()
    ).select(
        F.col(key).cast("string").alias("k"),
        F.col(state_col).cast("string").alias("st"),
        F.unix_micros(F.col(ts_col)).alias("us"),
    )
    return keyed.groupBy("k").applyInPandasWithState(
        _make_funnel_fn([str(s) for s in steps],
                        None if within_us is None else int(within_us)),
        outputStructType=(
            "k string, step_idx long, step string, anchor_us long"
        ),
        stateStructType="anchors array<long>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming sessionized funnel (live twin of temporal.funnel_steps_sessionized)
# ---------------------------------------------------------------------------


def _make_session_funnel_fn(steps: list, gap_us: int, within_us):
    k = len(steps)

    def _sfunnel_fn(key, pdfs, state) -> Iterator:
        """Per-key sessionized funnel: state = (anchors k longs,
        last_us, sess counter) — k+2 longs regardless of traffic.
        Rows fold in event-time order within the batch; an event
        whose gap since the key's latest seen event EXCEEDS gap_us
        starts a new session (sess += 1, anchors reset), then the
        first-touch advance rule of _funnel_fn applies within the
        session.  Under ts-ordered arrival this reproduces
        funnel_steps_sessionized's anchors exactly; a late row older
        than the latest seen event can neither split nor bridge a
        session (last_us only moves forward) — the arrival-order
        approximation all state-v1 twins share.  Emits one append row
        per step ADVANCE (k, sess, step_idx, step, anchor_us); each
        (key, sess, step) emits at most once, so downstream's
        count(DISTINCT (k, sess)) per step is a plain aggregate."""
        import pandas as pd

        if state.exists:
            a0, last_us, sess = state.get
            anchors = [int(a) for a in a0]
            # sess >= 1 whenever state exists (the first row ever seen
            # starts session 1), so last_us is always a REAL event
            # time here — no sentinel, negative (pre-1970) us included
            last_us, sess = int(last_us), int(sess)
        else:
            anchors = [-1] * k
            last_us, sess = None, 0
        rows: list[tuple[int, str]] = []
        for pdf in pdfs:
            rows.extend(
                (int(u), str(s)) for u, s in zip(pdf["us"], pdf["st"])
            )
        out: list[tuple[int, int, int]] = []
        j = anchors.index(-1) if -1 in anchors else k
        for us, st in sorted(rows):
            if last_us is None or us - last_us > gap_us:
                sess += 1
                anchors = [-1] * k
                j = 0
            if last_us is None or us > last_us:
                last_us = us
            if j < k and st == steps[j]:
                feasible = True
                if j > 0:
                    prev = anchors[j - 1]
                    if us <= prev:
                        feasible = False
                    elif within_us is not None and us > prev + within_us:
                        feasible = False
                if feasible:
                    anchors[j] = us
                    out.append((sess, j, us))
                    j += 1
        state.update((anchors, last_us if last_us is not None else 0, sess))
        if out:
            yield pd.DataFrame(
                {
                    "k": [str(key[0])] * len(out),
                    "sess": [s for s, _, _ in out],
                    "step_idx": [i + 1 for _, i, _ in out],
                    "step": [steps[i] for _, i, _ in out],
                    "anchor_us": [u for _, _, u in out],
                }
            )

    return _sfunnel_fn


def streaming_funnel_sessions(
    df: DataFrame,
    steps: list[str],
    key: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    gap_us: int = 30 * 60 * 1_000_000,
    within_us: int | None = None,
) -> DataFrame:
    """Live SESSIONIZED funnel — the streaming twin of
    ``operators/temporal.py::funnel_steps_sessionized`` (r9 VERDICT
    #3): the first-touch chain restarts whenever the gap since the
    key's previous step event exceeds ``gap_us``, so the counting
    unit is the VISIT, not the user.  One append-mode row per step
    ADVANCE ``(k, sess, step_idx, step, anchor_us)``; ``sess`` is the
    key's 1-based session index in event-time order, so downstream's
    per-step distinct (k, sess) count is the live per-visit
    conversion board — and because each (key, sess, step) emits at
    most once, it is a plain streaming aggregate.

    EXACTNESS (differential-tested): under event-time-ordered arrival
    the emitted advances equal funnel_steps_sessionized's per-session
    anchors on the same rows — the session boundary is the same
    strictly-greater gap rule, and within a session the first
    feasible event seen IS the earliest.  Out-of-order rows older
    than the key's latest seen event are ignored for session
    splitting (last_us only moves forward) — the documented
    arrival-order approximation.  State per key is ``len(steps) + 2``
    longs — independent of traffic AND of session count, which is
    what makes an unbounded-horizon per-visit funnel viable (the
    batch operator's per-session rows never materialize here)."""
    if len(steps) < 2:
        raise ValueError("streaming_funnel_sessions: need at least 2 steps")
    if gap_us <= 0:
        raise ValueError(
            "streaming_funnel_sessions: gap_us must be positive"
        )
    if within_us is not None and within_us <= 0:
        raise ValueError(
            "streaming_funnel_sessions: within_us must be positive"
        )
    keyed = df.filter(
        F.col(ts_col).isNotNull()
        & F.col(state_col).isin(list(steps))
        & F.col(key).isNotNull()
    ).select(
        F.col(key).cast("string").alias("k"),
        F.col(state_col).cast("string").alias("st"),
        F.unix_micros(F.col(ts_col)).alias("us"),
    )
    return keyed.groupBy("k").applyInPandasWithState(
        _make_session_funnel_fn(
            [str(s) for s in steps],
            int(gap_us),
            None if within_us is None else int(within_us),
        ),
        outputStructType=(
            "k string, sess long, step_idx long, step string,"
            " anchor_us long"
        ),
        stateStructType="anchors array<long>, last_us long, sess long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming scorer audit (live twin of the batch ROC/threshold family)
# ---------------------------------------------------------------------------


def _make_scorer_audit_fn(max_scores: int):
    _I64_MAX = (1 << 63) - 1

    def _audit_fn(key, pdfs, state) -> Iterator:
        """Per-group live scorer audit: state = the exact (score ->
        pos, neg) contraction — the SAME sufficient statistic the
        batch ROC/AUC/threshold family reduces to, so every emitted
        number is bit-equal to the batch operator over the stream
        prefix REGARDLESS of arrival order or batch boundaries
        (unlike the anchors-style twins, contraction state is a
        commutative fold).  Each trigger folds the batch's
        per-score class counts and sweeps the sorted contraction
        once: Mann-Whitney u2 (auc_exact's integers), and the
        F1-optimal threshold with x_f1_threshold's exact rule (ppm
        two-step division, ties to the LOWEST threshold).  State is
        O(distinct scores), capped by ``max_scores`` with a
        quantize hint — a live monitor should gate a quantized
        score, and the cap is the bounded-state contract."""
        import pandas as pd

        if state.exists:
            ss0, ps0, ns0 = state.get
            tbl = {
                int(s): [int(p), int(nn)]
                for s, p, nn in zip(ss0, ps0, ns0)
            }
        else:
            tbl = {}
        for pdf in pdfs:
            for s, y in zip(pdf["s"], pdf["y"]):
                e = tbl.setdefault(int(s), [0, 0])
                e[0 if bool(y) else 1] += 1
        if len(tbl) > max_scores:
            raise ValueError(
                f"streaming_scorer_audit: group {key[0]!r} has"
                f" {len(tbl)} distinct scores"
                f" (> max_scores={max_scores}); quantize the score to"
                " a coarser grid before monitoring"
            )
        ss = sorted(tbl)
        state.update(
            (ss, [tbl[s][0] for s in ss], [tbl[s][1] for s in ss])
        )
        n_pos = sum(tbl[s][0] for s in ss)
        n_neg = sum(tbl[s][1] for s in ss)
        # division-form guard, same bound as auc_exact's raise
        if n_pos > 0 and n_neg > 0 and n_pos > _I64_MAX // 2000 // n_neg:
            raise ValueError(
                "streaming_scorer_audit: n_pos*n_neg exceeds the"
                " exact-ppm int64 bound (2^63/2000); shard the stream"
                " key and monitor per-shard"
            )
        cum_p = cum_n = 0
        u2 = 0
        best = None  # (f1_ppm, -s) max => ties to lowest s
        best_row = None
        for s in ss:
            p, nn = tbl[s]
            u2 += p * (2 * cum_n + nn)
            tp = n_pos - cum_p
            fp = n_neg - cum_n
            fn = cum_p
            d = 2 * tp + fp + fn
            # exact floor(x*1e6/d): Python ints == the engines'
            # two-step long division (see operators/common.py::ppm2)
            f1 = 0 if d == 0 else (2 * tp * 1_000_000) // d
            if best is None or (f1, -s) > best:
                best = (f1, -s)
                best_row = (s, tp, fp, fn, f1)
            cum_p += p
            cum_n += nn
        auc = (
            None
            if n_pos == 0 or n_neg == 0
            else (u2 * 1_000_000) // (2 * n_pos * n_neg)
        )
        s_best, tp_b, fp_b, fn_b, f1_b = best_row
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])],
                "n": [n_pos + n_neg],
                "n_pos": [n_pos],
                "n_neg": [n_neg],
                "auc_ppm": pd.array([auc], dtype="Int64"),
                "threshold": [s_best],
                "tp": [tp_b],
                "fp": [fp_b],
                "fn": [fn_b],
                "f1_ppm": [f1_b],
            }
        )

    return _audit_fn


def streaming_scorer_audit(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    max_scores: int = 100_000,
) -> DataFrame:
    """Live model-score monitor — the streaming twin of the batch
    scorer-audit family (``x_roc_curve`` / ``x_f1_threshold`` /
    ``auc_exact``): per group, every trigger re-emits ``(group_key,
    n, n_pos, n_neg, auc_ppm, threshold, tp, fp, fn, f1_ppm)`` —
    the running AUC and the currently-F1-optimal gating threshold of
    the stream's (quantized) score against its boolean label, in
    update mode (``n`` strictly increases; downstream keeps the max-n
    row per group, the Elasticsearch-upsert consumption model).

    EXACTNESS (tested): after any micro-batch sequence, a group's
    emission EQUALS the batch operators over the same rows — the
    state is the per-score class-count contraction itself, a
    commutative fold with no arrival-order sensitivity; AUC uses
    auc_exact's Mann-Whitney integers and the threshold uses
    x_f1_threshold's exact tie rule (max f1_ppm, lowest threshold).
    State per group is O(distinct scores), capped by ``max_scores``
    (raise with a quantize hint); the int64 AUC bound raises with
    auc_exact's sharding hint.  The drift family's batch<->streaming
    pairing, applied to scorer quality."""
    if max_scores < 1:
        raise ValueError(
            "streaming_scorer_audit: max_scores must be >= 1"
        )
    gk = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    )
    # try_cast + filter AFTER: a value that survives isNotNull but
    # does not cast (a non-numeric string score) must neither crash
    # the long-running query — ANSI cast throws, and a NaN reaching
    # the stateful fn raises — nor be silently misclassified; with
    # try_cast it becomes NULL and is filtered like any other null
    # (round-9 review)
    keyed = df.select(
        gk.alias("group_key"),
        F.col(score_col).try_cast("bigint").alias("s"),
        F.col(label_col).try_cast("boolean").alias("y"),
    ).filter(F.col("s").isNotNull() & F.col("y").isNotNull())
    return keyed.groupBy("group_key").applyInPandasWithState(
        _make_scorer_audit_fn(int(max_scores)),
        outputStructType=(
            "group_key string, n long, n_pos long, n_neg long,"
            " auc_ppm long, threshold long, tp long, fp long,"
            " fn long, f1_ppm long"
        ),
        stateStructType=(
            "scores array<long>, pos array<long>, neg array<long>"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming Bloom-state content dedup (fixed memory, unbounded horizon)
# ---------------------------------------------------------------------------


def _make_bloom_dedup_fn(key_col: str, num_hashes: int, num_words: int,
                         columns: list, fill_col: str = None):
    _BITS = 63  # sketches._BLOOM_BITS_PER_WORD — non-negative BIGINT words

    def _dedup_fn(key, pdfs, state) -> Iterator:
        """Per-shard first-seen filter: state = ONE fixed-size Bloom
        bitmap (num_words longs) + exact admitted/dropped/bits-set
        counters.  Each row derives its ``num_hashes`` probe positions
        from ONE md5 digest via Kirsch-Mitzenmacher double hashing
        (g_i = h1 + i*h2 mod m, h1/h2 = the digest's two 64-bit
        halves, h2 forced nonzero so the probes are not all equal) —
        one digest per row instead of k, the per-shard throughput
        floor the round-9 ADVICE flagged; KM preserves the asymptotic
        ``(1-e^{-kn/m})^k`` FP rate (Kirsch & Mitzenmacher, ESA'06).
        A maybe-member DROPS (a false positive drops a never-seen doc
        — the documented price of fixed memory), a definite-absent
        EMITS and sets its bits.  STRUCTURAL guarantee: no key is
        ever emitted twice (bits only accumulate).  Arrival order
        within a batch decides which duplicate copy survives — the
        same arrival-order contract as the other state-v1 twins.
        ``bits_set`` is maintained incrementally (exact popcount of
        the bitmap) so the fill ratio is O(1) to surface per batch."""
        import hashlib

        import pandas as pd

        if state.exists:
            words, n_seen, n_dropped, bits_set = state.get
            words = list(words)
        else:
            words = [0] * num_words
            n_seen = n_dropped = bits_set = 0
        m = _BITS * num_words
        keep_masks = []
        for pdf in pdfs:
            keep = []
            for v in pdf[key_col]:
                # salt differs from the shard router's "bdd:" chain so
                # probe positions are independent of shard assignment
                dig = hashlib.md5(f"bddkm:{v}".encode()).digest()
                h1 = int.from_bytes(dig[:8], "big")
                h2 = int.from_bytes(dig[8:], "big") | 1  # nonzero stride
                hs = [(h1 + d * h2) % m for d in range(num_hashes)]
                if all(
                    (words[h // _BITS] >> (h % _BITS)) & 1 for h in hs
                ):
                    keep.append(False)
                    n_dropped += 1
                else:
                    keep.append(True)
                    n_seen += 1
                    for h in hs:
                        w, b = h // _BITS, 1 << (h % _BITS)
                        if not words[w] & b:
                            words[w] |= b
                            bits_set += 1
            keep_masks.append(pdf[keep])
        state.update((words, n_seen, n_dropped, bits_set))
        out = pd.concat(keep_masks) if keep_masks else None
        if out is not None and len(out):
            out = out[columns]
            if fill_col is not None:
                # post-batch fill: every row this trigger carries the
                # shard's bitmap occupancy AFTER absorbing the batch,
                # so a monitor alerting on max(fill_col) sees
                # saturation as it happens, not a trigger late
                out = out.assign(**{fill_col: (bits_set * 1_000_000) // m})
            yield out

    return _dedup_fn


def streaming_dedup_bloom(
    df: DataFrame,
    key_col: str,
    num_hashes: int = 4,
    num_words: int = 1 << 14,
    shards: int = 64,
    fill_col: str = None,
) -> DataFrame:
    """Live FIRST-SEEN content dedup with FIXED memory over an
    UNBOUNDED horizon — the third point on the streaming-dedup
    spectrum: Spark's ``dropDuplicates`` keeps every key forever
    (state grows without bound), ``streaming_dedup_records``
    (dropDuplicatesWithinWatermark) bounds state by FORGETTING keys
    older than the watermark, and THIS operator never forgets and
    never grows — each of ``shards`` Bloom bitmaps is exactly
    ``num_words`` longs (total memory shards x num_words x 8 B,
    ~8 MB at the defaults) at a quantified cost: a false positive
    DROPS a never-seen document at the standard
    ``(1 - e^{-kn/m})^k`` rate (n = keys absorbed per shard), the
    right trade for training-data ingest where a duplicate admitted
    is worse than a rare document lost.  Emits the surviving rows
    (append mode, all input columns); the structural guarantee — no
    key ever emitted twice — holds regardless of FP rate, because
    bits only accumulate.

    Plan shape: one shard exchange (md5 of the key mod ``shards`` —
    the same salt chain as sketches.bloom_sketch, JVM-side), then the
    per-shard stateful probe.  Exact-regime contract (tested): with
    the bitmap comfortably above the key cardinality, the admitted
    set EQUALS batch first-seen dedup over the same rows.

    NULL-key rows are EXCLUDED from the output (this repo's key-
    operator convention — funnel keys, MG items — NOT Spark's
    ``dropDuplicates``, which treats NULL as a dedup key): a NULL
    content key means the fingerprinting upstream failed, and
    admitting every such row would make the "no key emitted twice"
    guarantee vacuous while dropping all-but-one would silently
    collapse unrelated documents.  Filter or surrogate-fill upstream
    if NULL-keyed rows must survive.

    Saturation observability (round-10, r9 VERDICT #1): pass
    ``fill_col`` to append a per-row ``bigint`` column carrying the
    emitting shard's bitmap occupancy in ppm (bits set / total bits,
    AFTER absorbing the row's trigger batch) — the streaming twin of
    the batch prefilter's auto-size/saturation contract
    (contamination.py): an operator alerting on ``max(fill_col)``
    crossing ~300_000 ppm (where the k=4 FP rate passes ~1%) sees the
    never-forget bitmap approach saturation AS IT FILLS instead of
    discovering silent drops later.  The count is exact (incremental
    popcount in state), costs O(1) per batch, and leaves the default
    output schema unchanged when unset.  Per-row probing derives all
    ``num_hashes`` positions from ONE md5 digest via
    Kirsch-Mitzenmacher double hashing (one digest per row, not k —
    round-9 ADVICE)."""
    from kafka_dead_letter_analyzer_spark.operators.sketches import md5_u60

    if num_hashes < 1 or num_words < 1 or shards < 1:
        raise ValueError(
            "streaming_dedup_bloom: num_hashes, num_words, shards must"
            " be >= 1"
        )
    cols = list(df.columns)
    keyed = df.filter(F.col(key_col).isNotNull()).withColumn(
        "_shard",
        (
            md5_u60(
                F.concat(F.lit("bdd:"), F.col(key_col).cast("string"))
            )
            % shards
        ).cast("int"),
    )
    fn = _make_bloom_dedup_fn(
        key_col, int(num_hashes), int(num_words), cols,
        fill_col=fill_col,
    )
    out_schema = df.schema
    if fill_col is not None:
        if fill_col in cols:
            raise ValueError(
                f"streaming_dedup_bloom: fill_col {fill_col!r} collides"
                " with an input column"
            )
        out_schema = T.StructType(
            out_schema.fields + [T.StructField(fill_col, T.LongType())]
        )
    return keyed.groupBy("_shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=(
            "words array<long>, n_seen long, n_dropped long,"
            " bits_set long"
        ),
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming rater agreement (live twin of the batch kappa family)
# ---------------------------------------------------------------------------


def _make_rater_agreement_fn(max_cells: int):
    # captured in the closure so executors don't re-import ranking;
    # importing (not re-declaring) keeps the streaming twin's
    # bit-equality contract pinned to the batch bound if it changes
    from kafka_dead_letter_analyzer_spark.operators.ranking import (
        _KAPPA_N_MAX as _kappa_max,
    )

    _KAPPA_N_MAX = _kappa_max

    def _agree_fn(key, pdfs, state) -> Iterator:
        """Per-group live agreement audit: state = the exact
        (label_a, label_b) -> count contingency contraction — the
        SAME sufficient statistic batch cohens_kappa reduces to, so
        every emission is bit-equal to the batch operator over the
        stream prefix regardless of arrival order or batch
        boundaries (a commutative fold, like the scorer audit's
        contraction).  Each trigger folds the batch's cells and
        recomputes (n, agree, po_ppm, pe_ppm) from the marginals;
        Python's unbounded ints make ``(x * 1_000_000) // d`` exactly
        the engines' two-step ppm division."""
        import pandas as pd

        if state.exists:
            aa, bb, cc = state.get
            tbl = {
                (a, b): int(c) for a, b, c in zip(aa, bb, cc)
            }
        else:
            tbl = {}
        for pdf in pdfs:
            for a, b in zip(pdf["a"], pdf["b"]):
                k2 = (str(a), str(b))
                tbl[k2] = tbl.get(k2, 0) + 1
        if len(tbl) > max_cells:
            raise ValueError(
                f"streaming_rater_agreement: group {key[0]!r} has"
                f" {len(tbl)} distinct label pairs"
                f" (> max_cells={max_cells}); collapse the label"
                " domain before monitoring"
            )
        cells = sorted(tbl)
        state.update(
            (
                [a for a, _ in cells],
                [b for _, b in cells],
                [tbl[c] for c in cells],
            )
        )
        n = sum(tbl.values())
        if n > _KAPPA_N_MAX:
            raise ValueError(
                "streaming_rater_agreement: group exceeds the"
                " exact-ppm bound (n <= ~6.79e7 rows per group);"
                " shard the stream key and monitor per-shard"
            )
        agree = sum(c for (a, b), c in tbl.items() if a == b)
        rm: dict = {}
        cm: dict = {}
        for (a, b), c in tbl.items():
            rm[a] = rm.get(a, 0) + c
            cm[b] = cm.get(b, 0) + c
        s_rc = sum(r * cm.get(a, 0) for a, r in rm.items())
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])],
                "n": [n],
                "agree": [agree],
                "po_ppm": [(agree * 1_000_000) // n],
                "pe_ppm": [(s_rc * 1_000_000) // (n * n)],
            }
        )

    return _agree_fn


def streaming_rater_agreement(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    group_col: str | None = None,
    max_cells: int = 100_000,
) -> DataFrame:
    """Live annotator/classifier agreement monitor — the streaming
    twin of the batch agreement family (``cohens_kappa`` /
    ``x_rater_agreement``): per group, every trigger re-emits
    ``(group_key, n, agree, po_ppm, pe_ppm)`` — the running observed
    and chance agreement of two categorical labelings — in update
    mode (``n`` strictly increases; downstream keeps the max-n row
    per group).  The canonical use: a new quality classifier shadows
    the incumbent on live traffic, and the monitor shows kappa =
    (po - pe)/(1 - pe) converging (or not) BEFORE the swap, instead
    of after a batch backfill.

    EXACTNESS (tested): after any micro-batch sequence, a group's
    emission EQUALS batch ``cohens_kappa`` over the same rows — the
    state is the (label_a, label_b) contingency contraction itself,
    a commutative fold with no arrival-order sensitivity, and the
    ppm divisions are the same exact floor the batch two-step DIV
    computes.  State per group is O(label-pair domain), capped by
    ``max_cells`` (raise with a collapse hint); the int64 ppm bound
    raises with the batch operator's sharding hint.  NULL labels on
    either side are excluded (the batch contract)."""
    if max_cells < 1:
        raise ValueError(
            "streaming_rater_agreement: max_cells must be >= 1"
        )
    gk = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    )
    keyed = df.select(
        gk.alias("group_key"),
        F.col(rater_a).cast("string").alias("a"),
        F.col(rater_b).cast("string").alias("b"),
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    return keyed.groupBy("group_key").applyInPandasWithState(
        _make_rater_agreement_fn(int(max_cells)),
        outputStructType=(
            "group_key string, n long, agree long, po_ppm long,"
            " pe_ppm long"
        ),
        stateStructType=(
            "la array<string>, lb array<string>, cnt array<long>"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming corpus eval (live twin of corpus_eval_rollup over bleu_stats)
# ---------------------------------------------------------------------------


def _make_corpus_eval_fn(max_n: int):
    def _eval_fn(key, pdfs, state) -> Iterator:
        """Per-group live corpus-eval monitor: state = the corpus
        rollup contraction itself — (n_pairs, cand_len, ref_len,
        clipped_1..max_n, total_1..max_n, ref_total_1..max_n) as
        3*max_n + 3 longs, the SAME int64 sums batch
        corpus_eval_rollup(bleu_stats(prefix)) reduces to, so every
        emission is bit-equal to the batch pair over the stream
        prefix regardless of arrival order or batch boundaries (a
        commutative fold of per-pair integer stats).  The per-pair
        clipped counts are computed row-locally with a Counter — the
        exact semantics of the batch gram pipeline (lowercase alnum
        tokens, clipped_n = sum of min(cand_count, ref_count)) without
        its shuffles, which streaming could not chain anyway (two
        stateful aggregations)."""
        import re as _re
        from collections import Counter

        import pandas as pd

        width = 3 * max_n + 3
        vals = list(state.get[0]) if state.exists else [0] * width
        for pdf in pdfs:
            for c, r in zip(pdf["c"], pdf["r"]):
                ct = _re.findall(
                    r"[a-z0-9]+", c.lower() if isinstance(c, str) else ""
                )
                rt = _re.findall(
                    r"[a-z0-9]+", r.lower() if isinstance(r, str) else ""
                )
                cl, rl = len(ct), len(rt)
                vals[0] += 1
                vals[1] += cl
                vals[2] += rl
                for n in range(1, max_n + 1):
                    cg = Counter(
                        " ".join(ct[i : i + n])
                        for i in range(cl - n + 1)
                    )
                    rg = Counter(
                        " ".join(rt[i : i + n])
                        for i in range(rl - n + 1)
                    )
                    vals[2 + n] += sum(
                        min(v, rg[g]) for g, v in cg.items()
                    )
                    vals[2 + max_n + n] += max(cl - n + 1, 0)
                    vals[2 + 2 * max_n + n] += max(rl - n + 1, 0)
        state.update((vals,))
        cols = (
            ["group_key", "n_pairs", "cand_len", "ref_len"]
            + [f"clipped_{n}" for n in range(1, max_n + 1)]
            + [f"total_{n}" for n in range(1, max_n + 1)]
            + [f"ref_total_{n}" for n in range(1, max_n + 1)]
        )
        yield pd.DataFrame(
            {c: [v] for c, v in zip(cols, [key[0]] + vals)}
        )

    return _eval_fn


def streaming_corpus_eval(
    df: DataFrame,
    max_n: int = 4,
    group_col: str | None = None,
    id_col: str = "pair_id",
    cand_col: str = "candidate",
    ref_col: str = "reference",
) -> DataFrame:
    """Live corpus-BLEU/ROUGE-N monitor — the streaming twin of
    ``corpus_eval_rollup(bleu_stats(...))``: per group, every trigger
    re-emits the RUNNING int64 corpus stats (n_pairs, summed lengths,
    summed clipped_n / total_n / ref_total_n) in update mode; the one
    float step (geometric mean x brevity penalty, or ROUGE-N recall)
    stays caller-side, exactly like batch.  The canonical use: a
    generation service streams (candidate, reference) pairs and the
    corpus score converges live instead of after a batch backfill.

    EXACTNESS (tested): after any micro-batch sequence a group's
    emission EQUALS batch ``corpus_eval_rollup(bleu_stats(prefix),
    group)`` — per-pair stats are integers and the rollup is their
    sum, a commutative fold; tokens are lowercase ASCII-alnum runs
    (TYPICALITY_TOKEN_RE), identical in the row-local Counter and the
    batch gram pipeline.  State per group is FIXED: 3*max_n + 3
    longs, independent of traffic.  NULL pair ids are excluded and a
    NULL candidate/reference is an empty text (zero grams, counted) —
    the batch contract.  Row-local Python is the right shape here:
    the batch plan's two chained contractions cannot run in one
    streaming query anyway (multiple stateful aggregations), and the
    per-row cost is the pair's own gram count."""
    if max_n < 1:
        raise ValueError(
            f"streaming_corpus_eval: max_n={max_n} must be >= 1"
        )
    gk = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    )
    keyed = df.filter(F.col(id_col).isNotNull()).select(
        gk.alias("group_key"),
        F.col(cand_col).cast("string").alias("c"),
        F.col(ref_col).cast("string").alias("r"),
    )
    out_schema = (
        "group_key string, n_pairs long, cand_len long, ref_len long, "
        + ", ".join(
            [f"clipped_{n} long" for n in range(1, max_n + 1)]
            + [f"total_{n} long" for n in range(1, max_n + 1)]
            + [f"ref_total_{n} long" for n in range(1, max_n + 1)]
        )
    )
    return keyed.groupBy("group_key").applyInPandasWithState(
        _make_corpus_eval_fn(int(max_n)),
        outputStructType=out_schema,
        stateStructType="vals array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming corpus ROUGE-L (live twin of corpus_eval_rollup over
# rouge_l_stats)
# ---------------------------------------------------------------------------


def _make_corpus_rouge_fn(base_cap: int, top_cap: int):
    def _rouge_fn(key, pdfs, state) -> Iterator:
        """Per-group live corpus-ROUGE-L monitor: state = the rollup
        contraction itself — (n_pairs, cand_len, ref_len, lcs_len,
        n_truncated) as FIVE longs, the same int64 sums batch
        ``corpus_eval_rollup(rouge_l_stats(prefix))`` reduces to, so
        every emission is bit-equal to the batch pair over the stream
        prefix regardless of arrival order or batch boundaries.  The
        per-pair LCS runs the SHARED ``text._lcs_capped`` row kernel
        (cap ladder, truncation flag, vectorized prefix-max DP) —
        bit-equality by construction, not by parallel reimplementation."""
        import re as _re

        import pandas as pd

        from kafka_dead_letter_analyzer_spark.operators.text import (
            TYPICALITY_TOKEN_RE,
            _lcs_capped,
        )

        # tokenizer = the SHARED batch constant, compiled once per
        # state-function call — a batch-side regex change cannot
        # silently desynchronize this twin
        tok_re = _re.compile(TYPICALITY_TOKEN_RE)
        vals = list(state.get[0]) if state.exists else [0] * 5
        for pdf in pdfs:
            for c, r in zip(pdf["c"], pdf["r"]):
                ct = tok_re.findall(
                    c.lower() if isinstance(c, str) else ""
                )
                rt = tok_re.findall(
                    r.lower() if isinstance(r, str) else ""
                )
                cl, rl, lcs, tr = _lcs_capped(ct, rt, base_cap, top_cap)
                vals[0] += 1
                vals[1] += cl
                vals[2] += rl
                vals[3] += lcs
                vals[4] += int(tr)
        state.update((vals,))
        cols = [
            "group_key", "n_pairs", "cand_len", "ref_len",
            "lcs_len", "n_truncated",
        ]
        yield pd.DataFrame(
            {c: [v] for c, v in zip(cols, [key[0]] + vals)}
        )

    return _rouge_fn


def streaming_corpus_rouge_l(
    df: DataFrame,
    group_col: str | None = None,
    id_col: str = "pair_id",
    cand_col: str = "candidate",
    ref_col: str = "reference",
    max_tokens: int = 512,
    escalations: int = 0,
) -> DataFrame:
    """Live corpus-ROUGE-L monitor — the streaming twin of
    ``corpus_eval_rollup(rouge_l_stats(...))`` (r12, completing the
    eval family's batch/streaming symmetry alongside
    :func:`streaming_corpus_eval`): per group, every trigger re-emits
    the RUNNING int64 corpus stats ``(n_pairs, cand_len, ref_len,
    lcs_len, n_truncated)`` in update mode; corpus P/R/F stay
    caller-side, exactly like batch.

    EXACTNESS (tested): after any micro-batch sequence a group's
    emission EQUALS the batch rollup over the stream prefix — per-pair
    stats are integers summed commutatively, and the per-pair LCS is
    the same shared row kernel batch uses (``max_tokens`` cap,
    ``escalations`` ladder, truncation counted, never silent).  State
    per group is FIXED: five longs, independent of traffic.  NULL
    pair ids are excluded; NULL candidate/reference is an empty text
    (lcs 0, counted) — the batch contract.  Row-local Python is the
    right shape: the LCS is inherently per-pair compute, and the
    per-row cost is bounded by the same visible ``(max_tokens *
    2**escalations)**2`` ceiling as batch."""
    if max_tokens < 1:
        raise ValueError(
            f"streaming_corpus_rouge_l: max_tokens={max_tokens}"
            " must be >= 1"
        )
    if not (0 <= int(escalations) <= 8):
        raise ValueError(
            f"streaming_corpus_rouge_l: escalations={escalations}"
            " must be in 0..8"
        )
    gk = (
        F.col(group_col).cast("string")
        if group_col
        else F.lit("all")
    )
    keyed = df.filter(F.col(id_col).isNotNull()).select(
        gk.alias("group_key"),
        F.col(cand_col).cast("string").alias("c"),
        F.col(ref_col).cast("string").alias("r"),
    )
    base_cap = int(max_tokens)
    top_cap = base_cap * (2 ** int(escalations))
    return keyed.groupBy("group_key").applyInPandasWithState(
        _make_corpus_rouge_fn(base_cap, top_cap),
        outputStructType=(
            "group_key string, n_pairs long, cand_len long,"
            " ref_len long, lcs_len long, n_truncated long"
        ),
        stateStructType="vals array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Streaming 64-bit fingerprint near-dup (live twin of
# dedup.hash64_hamming_pairs / hash64_hamming_join)
# ---------------------------------------------------------------------------


def _make_hamming_fn(max_hamming: int, n_bands: int):
    def _hamming_fn(key, pdfs, state) -> Iterator:
        """One band BUCKET's slice of the standing fingerprint index:
        state = every (id, hash) whose band-``key[0]`` bits equal
        ``key[1]`` — the same sharding the batch banded join shuffles
        on, so state size is the index itself (n_bands x corpus x
        16 B), not traffic.  Each arriving row pairs against the
        bucket's index (and earlier rows of its own batch, processed
        in ascending-id order), emitting ``(new_id, corpus_id,
        hamming)`` for matches within ``max_hamming``.

        ONCE-ONLY emission without cross-bucket coordination: a pair
        within Hamming < n_bands matches in >= 1 band (pigeonhole),
        possibly several; every bucket can decide locally whether it
        is the FIRST matching band (a pure function of the two
        hashes), and only that one emits.  Re-submitted ids are
        dropped (first fingerprint wins — fingerprints are immutable
        by contract), so the emitted set over any stream prefix
        EQUALS the batch pair set over the distinct rows of that
        prefix (convergence-tested)."""
        import pandas as pd

        band = int(key[0])
        u64 = 0xFFFFFFFFFFFFFFFF
        starts = [b * 64 // n_bands for b in range(n_bands + 1)]

        def band_bits(h: int, b: int) -> int:
            w = starts[b + 1] - starts[b]
            return ((h & u64) >> starts[b]) & ((1 << w) - 1)

        if state.exists:
            ids, hs = list(state.get[0]), list(state.get[1])
        else:
            ids, hs = [], []
        known = set(ids)
        out: list[tuple] = []
        rows: list[tuple] = []
        for pdf in pdfs:
            rows.extend(
                (int(i), int(h)) for i, h in zip(pdf["id"], pdf["h"])
            )
        rows.sort()
        for rid, rh in rows:
            if rid in known:
                continue
            for cid, ch in zip(ids, hs):
                d = bin((rh ^ ch) & u64).count("1")
                if d <= max_hamming:
                    first = next(
                        b
                        for b in range(n_bands)
                        if band_bits(rh, b) == band_bits(ch, b)
                    )
                    if first == band:
                        out.append((rid, cid, d))
            ids.append(rid)
            hs.append(rh)
            known.add(rid)
        state.update((ids, hs))
        yield pd.DataFrame(
            out, columns=["new_id", "corpus_id", "hamming"]
        ) if out else pd.DataFrame(
            {"new_id": [], "corpus_id": [], "hamming": []}
        )

    return _hamming_fn


def streaming_hash64_near_dup(
    df: DataFrame,
    id_col: str = "id",
    hash_col: str = "h",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Live 64-bit fingerprint near-dup — the streaming twin of the
    banded Hamming joins (``dedup.hash64_hamming_pairs`` /
    ``hash64_hamming_join``), closing the arrival loop for every
    hash64 surface (simhash text, perceptual image dHash/aHash): as
    each fingerprint arrives it is checked against the STANDING INDEX
    and appended to it, emitting ``(new_id BIGINT, corpus_id BIGINT,
    hamming INT)`` matches in append mode.

    The pre-banding runs JVM-side (the shared ``_hash64_bands``
    split), the state function holds one bucket's (id, hash) slice —
    exactly what the batch join shuffles — and once-only emission is
    decided locally per bucket (first-matching-band rule, a pure
    function of the two hashes; no cross-bucket dedup pass).

    EXACTNESS (tested): after any micro-batch sequence the emitted
    pair set equals ``hash64_hamming_pairs`` over the distinct rows
    seen so far, with ``new_id`` the later arrival.  State never
    expires (the index IS the product); bound it upstream by routing
    only the retention window's fingerprints, or snapshot-compact to
    the batch artifact and restart."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import (
        _check_banding,
        _hash64_bands,
    )

    n_bands = _check_banding(
        max_hamming, n_bands, "streaming_hash64_near_dup"
    )
    keyed = (
        df.filter(F.col(id_col).isNotNull() & F.col(hash_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("id"),
            F.col(hash_col).cast("long").alias("_sh"),
        )
        .select(
            "id",
            F.col("_sh").alias("h"),
            F.explode(_hash64_bands(n_bands)).alias("_b"),
        )
        .select(
            "id",
            "h",
            F.col("_b.band").alias("band"),
            F.col("_b.bits").alias("bits"),
        )
    )
    return keyed.groupBy("band", "bits").applyInPandasWithState(
        _make_hamming_fn(max_hamming, n_bands),
        outputStructType="new_id long, corpus_id long, hamming int",
        stateStructType="ids array<long>, hs array<long>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
