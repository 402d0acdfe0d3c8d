"""Declared queries for the driver harness (__spark_entry__.py contract).

One entry per implemented operator from SURVEY.md §2, phrased over the
driver's synthetic tables (TESTDATA.md) using the capability mapping of
FIXTURES.md §6: ``events.event_type`` stands in for the ``(topic, type)``
aggregation key, ``documents.text`` for stack traces, ``events.props`` for
header-style extraction.

Every Spark query has a DuckDB oracle in ORACLE_SQL with IDENTICAL column
names (the driver sorts columns by name before hashing). Determinism rules:
- doubles are never accumulated (sum/avg) — money math is cast to
  DECIMAL(18,2) first, which is exact and associative on both engines;
- timestamps cross the boundary as formatted strings (N3), never as raw
  timestamp values;
- every LIMIT has a unique total ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafka_dead_letter_analyzer_spark import cache_registry

from kafka_dead_letter_analyzer_spark.functions.classify import (
    classify_stack_trace,
    classify_stack_trace_sql,
)
from kafka_dead_letter_analyzer_spark.functions.formatting import (
    TS_PATTERN,
    TS_PATTERN_SQL,
    format_timestamp,
)
from kafka_dead_letter_analyzer_spark.sources.batch import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Unresolved-Column memo: expensive expression trees that are pure
# functions of FIXED column names are built once per process and reused
# across invocations (Columns are immutable and bind at select() time).
# Plan construction — thousands of py4j calls — measured as the dominant
# warm-path cost for the parser-heavy queries; see plans/topology.py's
# _CANDIDATES_CACHE for the same pattern.
_COLS_CACHE: dict[str, object] = {}


def _cached_cols(key: str, builder):
    if key not in _COLS_CACHE:
        _COLS_CACHE[key] = builder()
    return _COLS_CACHE[key]


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _memo_plan_query(name: str, tables: list[str]):
    """Decorator form of ``_memo_plan`` (defined below; resolved at
    call time): memoize the decorated declared query's BUILT PLAN per
    (session, sf_dir, name, input-parquet mtime/size).  Apply ONLY to
    queries whose construction is guard/strategy probes + py4j plan
    building — never where construction embeds driver-computed data
    (see _memo_plan's docstring)."""
    import functools

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _memo_plan(
                spark, sf_dir, name, tables, lambda: fn(spark, sf_dir)
            )

        return wrapper

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# A1 + M2 + K2 + N3 — the flagship: per-key error statistics
# (ErrorAggregatingProcessor.java:38-102, Result.java:43-51)
# ---------------------------------------------------------------------------


@_register(
    "a1_error_stats",
    f"""
    SELECT 'events:' || event_type AS kafka_key,
           CAST(count(*) AS INTEGER) AS count,
           strftime(min(ts), '{TS_PATTERN_SQL}') AS created,
           strftime(max(ts), '{TS_PATTERN_SQL}') AS updated,
           'events' AS topic,
           event_type AS type
    FROM events
    GROUP BY event_type
    """,
)
def a1_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running stats per (topic, type): count / created=min / updated=max."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("int").alias("count"),
            F.min("ts").alias("_created"),
            F.max("ts").alias("_updated"),
        )
        .select(
            F.format_string("%s:%s", F.lit("events"), F.col("event_type")).alias(
                "kafka_key"
            ),
            "count",
            format_timestamp("_created").alias("created"),
            format_timestamp("_updated").alias("updated"),
            F.lit("events").alias("topic"),
            F.col("event_type").alias("type"),
        )
    )


# ---------------------------------------------------------------------------
# A1 first-example + M3/M4 (ErrorAggregatingProcessor.java:59-65,
# Result.java:39-41) — deterministic batch order (ts, event_id)
# ---------------------------------------------------------------------------


@_register(
    "a1_first_example",
    f"""
    SELECT 'events:' || event_type AS kafka_key,
           event_id AS example_offset,
           strftime(ts, '{TS_PATTERN_SQL}') AS example_timestamp,
           CAST(user_id AS VARCHAR) AS example_key,
           event_type AS type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def a1_first_example(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First record per key — min_by over (ts, offset), one partial-agg
    shuffle (no window sort; SURVEY.md §2.8 batch refinement)."""
    events = load_table(spark, sf_dir, "events")
    payload = F.struct(
        F.col("event_id").alias("offset"),
        F.col("ts").alias("ts"),
        F.col("user_id").cast("string").alias("key"),
    )
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy("event_type")
        .agg(F.min_by(payload, order_key).alias("example"))
        .select(
            F.format_string("%s:%s", F.lit("events"), F.col("event_type")).alias(
                "kafka_key"
            ),
            F.col("example.offset").alias("example_offset"),
            format_timestamp("example.ts").alias("example_timestamp"),
            F.col("example.key").alias("example_key"),
            F.col("event_type").alias("type"),
        )
    )


# ---------------------------------------------------------------------------
# N2 — stack-trace classification regexes over documents.text
# (StackTraceClassifier.java:36-67)
# ---------------------------------------------------------------------------


@_register(
    "n2_classify",
    f"""
    SELECT doc_id, {classify_stack_trace_sql('text')} AS error_type
    FROM documents
    """,
)
def n2_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", classify_stack_trace("text").alias("error_type"))


# ---------------------------------------------------------------------------
# K1 — elastic document key {topic}+{partition}+{offset}
# (KeyedDeadLetterWithContext.java:51-54)
# ---------------------------------------------------------------------------


@_register(
    "k1_elastic_key",
    """
    SELECT event_id,
           printf('%s+%d+%d', event_type, user_id, event_id) AS kafka_key
    FROM events
    """,
)
def k1_elastic_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.format_string("%s+%d+%d", "event_type", "user_id", "event_id").alias(
            "kafka_key"
        ),
    )


# ---------------------------------------------------------------------------
# N3 — sink timestamp formatting (Formatter.java:42-65, UTC-pinned)
# ---------------------------------------------------------------------------


@_register(
    "n3_ts_format",
    f"""
    SELECT event_id, strftime(ts, '{TS_PATTERN_SQL}') AS ts_str FROM events
    """,
)
def n3_ts_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", F.date_format("ts", TS_PATTERN).alias("ts_str"))


# ---------------------------------------------------------------------------
# F2 + U1 — union of independent (non-exclusive) filter branches
# (DeadLetterAnalyzerTopology.java:164-184)
# ---------------------------------------------------------------------------


@_register(
    "u1_union_filters",
    """
    SELECT event_id, 'high_value' AS branch FROM events WHERE value > 150
    UNION ALL
    SELECT event_id, 'error' AS branch FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_id, 'purchase' AS branch FROM events WHERE event_type = 'purchase'
    """,
)
def u1_union_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics merge of overlapping branches — a record can match
    several (SURVEY.md §2.2 note: union of filters, never if/elif)."""
    events = load_table(spark, sf_dir, "events")
    b1 = events.filter(F.col("value") > 150).select(
        "event_id", F.lit("high_value").alias("branch")
    )
    b2 = events.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("error").alias("branch")
    )
    b3 = events.filter(F.col("event_type") == "purchase").select(
        "event_id", F.lit("purchase").alias("branch")
    )
    return b1.unionByName(b2).unionByName(b3)


# ---------------------------------------------------------------------------
# P2 — Connect description synthesis
# (ConnectDeadLetterParser.java:84-85)
# ---------------------------------------------------------------------------


@_register(
    "p2_connect_description",
    """
    SELECT event_id,
           printf('Error in stage %s (%s) in %s[%d]',
                  upper(event_type), props, 'sink-connector', user_id) AS description
    FROM events
    """,
)
def p2_connect_description(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.format_string(
            "Error in stage %s (%s) in %s[%d]",
            F.upper("event_type"),
            F.col("props"),
            F.lit("sink-connector"),
            F.col("user_id"),
        ).alias("description"),
    )


# ---------------------------------------------------------------------------
# P3 — null-fallback description synthesis with [unknown] defaults
# (NativeStreamsDeadLetterParser.java:73-75)
# ---------------------------------------------------------------------------


@_register(
    "p3_native_description",
    """
    SELECT event_id,
           printf('Error in processor node %s in task %s',
                  coalesce(nullif(event_type, 'click'), '[unknown]'),
                  CAST(user_id AS VARCHAR)) AS description
    FROM events
    """,
)
def p3_native_description(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.format_string(
            "Error in processor node %s in task %s",
            F.coalesce(F.nullif("event_type", F.lit("click")), F.lit("[unknown]")),
            F.col("user_id").cast("string"),
        ).alias("description"),
    )


# ---------------------------------------------------------------------------
# P4 — header-style scalar extraction: string payload -> typed value
# (HeaderHelper.java:36-52; props JSON stands in for header bytes)
# ---------------------------------------------------------------------------


@_register(
    "p4_header_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    """,
)
def p4_header_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# N1 — context enrichment projection (ContextEnricher.java:49-73)
# ---------------------------------------------------------------------------


@_register(
    "n1_context_enrich",
    f"""
    SELECT CAST(user_id AS VARCHAR) AS key,
           event_id AS offset,
           CAST(event_id % 32 AS INTEGER) AS partition,
           strftime(ts, '{TS_PATTERN_SQL}') AS timestamp,
           'events' AS topic
    FROM events
    """,
)
def n1_context_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").alias("offset"),
        (F.col("event_id") % 32).cast("int").alias("partition"),
        format_timestamp("ts").alias("timestamp"),
        F.lit("events").alias("topic"),
    )


# ---------------------------------------------------------------------------
# Engine breadth: TPC-H-style scan-agg and join queries (beyond reference
# surface — the reference has no joins; these exercise the Spark engine the
# extensions are built on and anchor the benchmark).
# Money math: per-row exact DECIMAL, converted to BIGINT scaled integers
# (cents / 1e-4 units) BEFORE the sum so the declared result surface carries
# no DECIMAL at all — integer sums hash identically on every engine.
# (Round 1 emitted DECIMAL aggregates: values were bit-identical vs DuckDB
# but the driver's value-hash over DECIMAL columns mismatched; see VERDICT
# round 1 "What's wrong" #1.)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
           CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4)) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    # Per-row scaled-integer conversion is exact: the DECIMAL(18,2) value
    # times 10^scale is integral, so truncation (Spark) == rounding (DuckDB).
    disc_price_e4 = (
        (price * (1 - disc)).cast("decimal(30,4)") * 10000
    ).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum((qty * 100).cast("bigint")).cast("bigint").alias("sum_qty_cents"),
            F.sum((price * 100).cast("bigint")).cast("bigint").alias("sum_base_price_cents"),
            F.sum(disc_price_e4).cast("bigint").alias("sum_disc_price_e4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "tpch_q3_top_orders",
    """
    SELECT o.o_orderkey,
           CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
                    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue_e4 DESC, o_orderkey
    LIMIT 10
    """,
)
def tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline: broadcast the small filtered dimension (customer) so
    the fact scans stay shuffle-free until the final aggregation."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    revenue_e4 = ((price * (1 - disc)).cast("decimal(30,4)") * 10000).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(revenue_e4).cast("bigint").alias("revenue_e4"))
        .select(
            "o_orderkey",
            "revenue_e4",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue_e4").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_register(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4))
                    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-only filter+aggregate (TPC-H Q6 shape on the 1996 window):
    every predicate reaches the parquet scan, no shuffle at all (the
    grouped-less aggregate is a partial+final over map outputs).
    Discount compared in exact integer cents, revenue in e4 units."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    disc_cents = (disc * 100).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & disc_cents.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(((price * disc).cast("decimal(30,4)") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
                    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                    AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue_e4 DESC, nation
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join pipeline (TPC-H Q5 shape, 1996/ASIA): the three
    dimension tables (supplier, nation, region) broadcast so the two fact
    scans shuffle only for the fact-fact join and the final aggregation —
    the canonical star-join plan at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    revenue_e4 = ((price * (1 - disc)).cast("decimal(30,4)") * 10000).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue_e4).cast("bigint").alias("revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), F.col("nation"))
    )


@_register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join aggregate (TPC-H Q4 shape): orders in a one-year window
    with at least one returned lineitem, counted per priority. The EXISTS
    maps to a LEFT SEMI join — the probe side never duplicates order rows
    however many lineitems match, so the join output is bounded by the
    orders side (the scale property that makes EXISTS cheaper than
    JOIN+DISTINCT at 100 TB). Date filter pushes to the orders scan;
    the returnflag filter pushes to the lineitem scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "x_anti_join_unreturned",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def x_anti_join_unreturned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join aggregate (NOT EXISTS — Q4's complement): orders in the
    window with NO returned lineitem. LEFT ANTI join; together with
    tpch_q4_order_priority the two partition the window's orders, a
    cross-query invariant the oracle checks implicitly (the per-priority
    counts sum to the window totals)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ===========================================================================
# North-star extension queries (BASELINE.json): dedup, similarity search,
# text analysis, multimodal — each a first-class declared operator.
# ===========================================================================

from kafka_dead_letter_analyzer_spark.operators import dedup as D  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import multimodal as MM  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import retrieval as RV  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import selection as SEL  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import similarity as S  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import text as TX  # noqa: E402


@_register(
    "x_text_stats",
    f"""
    SELECT doc_id,
           CAST({TX.token_count_sql('text')} AS INTEGER) AS n_tokens,
           CAST({TX.wordpiece_count_sql('text')} AS INTEGER) AS n_wordpieces,
           {TX.lang_id_sql('text')} AS pred_lang,
           {TX.quality_features_sql('text')['mean_token_len']} AS mean_token_len,
           {TX.quality_features_sql('text')['punct_ratio']} AS punct_ratio,
           {TX.quality_features_sql('text')['stopword_ratio']} AS stopword_ratio,
           {TX.fingerprint_sql('text')} AS fingerprint
    FROM documents
    """,
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token/wordpiece counts, language-ID heuristic,
    quality ratios, content fingerprint — one narrow codegen'd projection."""
    return TX.text_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "x_lang_quality_agg",
    f"""
    SELECT {TX.lang_id_sql('text')} AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS total_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def x_lang_quality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicted-language corpus stats (grouped aggregation over the
    language-ID operator; exact integer aggregates only)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        TX.with_lang_id(
            docs.select("text", TX.token_count("text").alias("_tok"), "n_chars")
        )
        .drop("text")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").cast("bigint").alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@_register(
    "x_quality_filter_agg",
    f"""
    WITH scored AS (
      SELECT doc_id,
             {TX.lang_id_sql('text')} AS pred_lang,
             {TX.token_count_sql('text')} AS n_tokens,
             {TX.quality_features_sql('text')['stopword_ratio']} AS stopword_ratio
      FROM documents
    )
    SELECT pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM scored
    WHERE n_tokens >= 20 AND stopword_ratio > 0.05
    GROUP BY pred_lang
    """,
)
def x_quality_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline quality gate as a query: score every document
    (language ID, token count, stopword ratio), KEEP docs passing the
    thresholds, aggregate the retained corpus per language. One narrow
    scan, predicates on scored columns, one shuffle for the final agg —
    the shape of a 100 TB pre-training filter pass."""
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features("text")
    scored = TX.with_lang_id(
        docs.select(
            "doc_id",
            "text",
            TX.token_count("text").alias("n_tokens"),
            feats["stopword_ratio"].alias("stopword_ratio"),
        )
    )
    return (
        scored.filter(
            (F.col("n_tokens") >= 20) & (F.col("stopword_ratio") > 0.05)
        )
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@_register(
    "x_pii_redact_stats",
    r"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_emails > 0 OR n_numbers > 0)
                AS BIGINT) AS docs_with_pii,
           CAST(sum(n_emails) AS BIGINT) AS total_emails,
           CAST(sum(n_numbers) AS BIGINT) AS total_numbers,
           CAST(sum(len_delta) AS BIGINT) AS total_len_delta
    FROM (
      SELECT lang,
             len(regexp_extract_all(lower(text),
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
             len(regexp_extract_all(lower(text), '\d{6,}')) AS n_numbers,
             length(lower(text)) - length(
               regexp_replace(
                 regexp_replace(lower(text),
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
                 '\d{6,}', '<num>', 'g')) AS len_delta
      FROM documents
      WHERE text IS NOT NULL
    )
    GROUP BY lang
    """,
)
def x_pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email-like and long-digit
    spans per document, aggregated per language — the compliance filter
    a pre-training pipeline runs before anything else touches the text.

    Pure codegen projections (regexp_extract_all / regexp_replace are
    JVM built-ins; the regexes are restricted to the syntax subset Java
    and RE2 agree on), one partial-agg shuffle. At 100 TB this is a
    narrow scan-shaped pass — the same shape as the quality gate."""
    em = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    num = r"\d{6,}"
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = F.lower(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(t, em, "<email>"), num, "<num>"
    )
    scored = docs.select(
        "lang",
        F.size(F.regexp_extract_all(t, F.lit(em), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(num), F.lit(0))).alias("n_numbers"),
        (F.length(t) - F.length(red)).alias("len_delta"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if((F.col("n_emails") > 0) | (F.col("n_numbers") > 0)).alias(
            "docs_with_pii"
        ),
        F.sum("n_emails").cast("bigint").alias("total_emails"),
        F.sum("n_numbers").cast("bigint").alias("total_numbers"),
        F.sum("len_delta").cast("bigint").alias("total_len_delta"),
    )


@_register(
    "x_pack_chunks",
    rf"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST({TX.token_count_sql('text')} AS BIGINT) AS n_tokens
      FROM documents
      WHERE text IS NOT NULL
    ), runs AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           (cum_tokens - n_tokens) // 4096 AS chunk_id
    FROM runs
    ORDER BY lang, doc_id
    """,
)
def x_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign documents (per language, in
    deterministic doc_id order) to fixed 4,096-token training chunks by
    running token count — the packing pass that turns a filtered corpus
    into context-window-sized training sequences. A document straddling
    a boundary belongs to the chunk where it starts (greedy sequential
    packing).

    One window over ONE sort+exchange per language partition; the token
    count is a codegen projection, so the data moved is (id, lang, n) —
    never the text. DuckDB types the running sum HUGEINT, hence the
    explicit BIGINT cast in the oracle (round-2 session_rows lesson)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        "lang",
        TX.token_count("text").cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("(cum_tokens - n_tokens) div 4096").alias("chunk_id"),
        )
        .orderBy("lang", "doc_id")
    )


@_register(
    "x_token_vocab_topk",
    r"""
    WITH toks AS (
      SELECT lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
      WHERE trim(lower(coalesce(text, ''))) != ''
    ), c AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS n
      FROM toks
      WHERE token != ''
      GROUP BY lang, token
    )
    SELECT lang, token, n,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, token) AS INTEGER) AS rnk
    FROM c
    QUALIFY rnk <= 5
    ORDER BY lang, rnk
    """,
)
def x_token_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-k most frequent tokens per language — the
    corpus-statistics pass a tokenizer-training pipeline runs first.

    Scale shape: explode(tokens) is a narrow generator (no shuffle);
    the (lang, token) count partial-aggregates map-side before its ONE
    hash exchange — at 100 TB the combiner collapses each partition's
    token stream to its local vocabulary before anything moves; the
    top-k window then runs over the already-aggregated (small) count
    table, with WindowGroupLimit pruning rank > k before the final
    exchange. Ties broken by token text for determinism."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # central tokenizer (dedup.py::_tokens) so "vocabulary" and
    # "dedup/contamination" share ONE pinned token definition; the
    # non-empty filter covers the whole-empty-doc and leading-empty
    # quirks identically to the oracle's token != ''
    toks = docs.select(
        "lang", F.explode(D._tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


@_register(
    "x_dedup_exact",
    f"""
    SELECT {TX.fingerprint_sql('text')} AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS doc_id,
           CAST(count(*) AS INTEGER) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content fingerprint: min-id representative
    per content group + copy count."""
    return D.dedup_exact_normalized(load_table(spark, sf_dir, "documents"))


@_register(
    "x_ngram_jaccard",
    """
    WITH g AS (
      SELECT doc_id,
             CASE WHEN coalesce(text, '') = '' THEN []::VARCHAR[]
                  WHEN length(text) < 3 THEN [lower(text)]
                  ELSE list_distinct([substr(lower(text), i, 3)
                                      for i in range(1, length(text) - 1)])
             END AS grams
      FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS INTEGER) AS inter_size,
           CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS INTEGER) AS union_size
    FROM g a, g b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.grams, b.grams)) * 4
          >= (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) * 1
    """,
)
def x_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-3-gram Jaccard pairs (j >= 1/4) on a bounded subset —
    integer set sizes only, bit-identical across engines."""
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold_num=1,
        threshold_den=4,
        max_id=200,
    )


# Exact cosine top-10 to the vec_id=0 query vector. Shared by the
# brute-force query AND the full-probe LSH / full-probe IVF queries: at
# full probe the ANN tiers must return exactly the exact answer, which is
# what upgrades them from rows-only to hash-checked (VERDICT r1 next-#2).
_COSINE_TOPK_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(
             list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)
                       for i in range(1, len(e.embedding) + 1)])
             / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]))
                * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in q.qv]))),
             6) AS cosine_sim
    FROM embeddings e, q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """


@_register("x_cosine_topk", _COSINE_TOPK_SQL)
def x_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 to the vec_id=0 embedding (ANN
    correctness baseline; TakeOrdered plan, no shuffle of vectors)."""
    embs = load_table(spark, sf_dir, "embeddings")
    [row] = embs.filter(F.col("vec_id") == 0).select("embedding").collect()
    return S.cosine_topk(embs, list(row["embedding"]), k=10)


@_register(
    "x_media_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_hash
    FROM documents
    """,
)
def x_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow-batched
    mapInPandas feature extraction (decode stubbed; byte stats + hash are
    real and oracle-checked)."""
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    return MM.extract_media_features(media).select(
        "media_id", "n_bytes", "payload_hash"
    )


# --- ANN / near-dup operators in their ORACLE-CHECKABLE configuration.
# Candidate generation with engine-native hashes (xxhash64, splitmix64
# hyperplanes) is not SQL-expressible, so each query here runs the real
# operator machinery in a configuration whose RESULT is exact — full-probe
# LSH/IVF equals brute-force top-k; single-bucket kNN/near-dup equals the
# exact pair answer; minhash banding at r=2 has full recall above the
# jaccard threshold on this corpus, and every candidate is verified with
# exact Jaccard, so the emitted pair set IS the exact pair set. The
# approximate (pruned-probe, multi-bucket) configurations are the 100 TB
# path and keep their recall bounds pinned in tests/test_extensions.py. ---


# Exact token-3-shingle Jaccard pairs (j >= 0.5), mirroring token_shingles
# (dedup.py): trim+lower, split on \s+, 3-token shingles joined by one
# space, whole-doc fallback under 3 tokens, empty set for blank docs.
# Shared CTE prefix + pair-select so the cluster oracle (x_dup_clusters)
# can build its recursive CTE on the exact same verified pair set.
_MINHASH_CTES = r"""t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                          for i in range(1, len(toks) - 1)]
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE []::VARCHAR[] END) AS sh
      FROM t
      WHERE len(toks) > 0
    )"""

_MINHASH_PAIRS_SELECT = """SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / greatest(len(a.sh) + len(b.sh)
                              - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
      FROM s a, s b WHERE a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5"""

_MINHASH_JACCARD_SQL = f"""
    WITH {_MINHASH_CTES}
    {_MINHASH_PAIRS_SELECT}
    """


@_register("x_dedup_minhash", _MINHASH_JACCARD_SQL)
def x_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, every candidate verified with
    exact Jaccard before emission. bands=32 (r=2): candidate-miss
    probability at the 0.5 threshold is (1-j^2)^32 <= 1e-4, zero misses on
    this corpus (checked against the exact all-pairs oracle), so the result
    equals the exact j>=0.5 pair set."""
    return D.dedup_near_minhash(
        load_table(spark, sf_dir, "documents"), num_hashes=64, bands=32, threshold=0.5
    )


# SimHash oracle: rebuild the 64-bit fingerprint in DuckDB from the same
# md5-prefix token hashes the declared query uses (dedup.md5_token_hash64),
# take per-bit +-1 votes over ALL tokens (duplicates vote repeatedly, like
# the engine), then emit every pair with Hamming distance <= 3 — which is
# EXACTLY the engine's answer, because pigeonhole banding has guaranteed
# recall for Hamming <= max_hamming (4 bands of 16 bits).
_HEX_POWS = ", ".join(str(16 ** (16 - i)) for i in range(1, 17))
_BIT_POWS = ", ".join(str(2**b) for b in range(64))
_SIMHASH_SQL = rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tk FROM t WHERE len(toks) > 0
    ), h AS (
      SELECT doc_id,
             list_sum([(strpos('0123456789abcdef', md5(tk)[i]) - 1)::HUGEINT
                       * ([{_HEX_POWS}][i])::HUGEINT for i in range(1, 17)]) AS hu
      FROM tok
    ), votes AS (
      -- relational bit votes (doc x token x bit rows, columnar-vectorized):
      -- ~10x faster in DuckDB than nested list comprehensions per doc
      SELECT doc_id, b,
             sum(CASE WHEN (hu // ([{_BIT_POWS}][b + 1])::HUGEINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(0, 64) r(b)
      GROUP BY 1, 2
    ), fp AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN ([{_BIT_POWS}][b + 1])::HUGEINT
                      ELSE 0::HUGEINT END) AS u
      FROM votes GROUP BY 1
    ), f AS (
      SELECT doc_id,
             CAST(CASE WHEN u >= {2**63}::HUGEINT THEN u - {2**64}::HUGEINT
                       ELSE u END AS BIGINT) AS sh
      FROM fp
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      FROM f a, f b WHERE a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """


@_register("x_dedup_simhash", _SIMHASH_SQL)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming <= 3 via pigeonhole banding —
    guaranteed full recall, so the banded join's answer IS the all-pairs
    answer). Declared configuration uses the md5-prefix token hash so the
    fingerprint is reproducible in DuckDB (oracle-checked end-to-end);
    xxhash64 remains the cheaper scale default, pinned by pytest."""
    return D.dedup_near_simhash(
        load_table(spark, sf_dir, "documents"), token_hash=D.md5_token_hash64
    )


@_register("x_cosine_topk_lsh", _COSINE_TOPK_SQL)
def x_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH, probing ALL 2^6 buckets: the
    full bucketing machinery runs (plane matmul UDF, bucket filter) and the
    result must equal brute-force exactly. Default-probe recall is pinned
    in tests/test_extensions.py."""
    embs = load_table(spark, sf_dir, "embeddings")
    [row] = embs.filter(F.col("vec_id") == 0).select("embedding").collect()
    return S.cosine_topk_lsh(
        embs, list(row["embedding"]), k=10, planes=6, probe_all=True
    )


# Exact cosine>=0.4 pairs (id_a < id_b) — the oracle for the embedding
# near-dup operator run in its exhaustive (planes=0) configuration.
_EMBED_PAIRS_SQL = """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                            for x in embedding])) AS nrm
      FROM embeddings
    )
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum([CAST(a.embedding[i] AS DOUBLE)
                             * CAST(b.embedding[i] AS DOUBLE)
                             for i in range(1, len(a.embedding) + 1)])
                   / (a.nrm * b.nrm), 6) AS cosine_sim
      FROM n a, n b WHERE a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.4
    """


@_register("x_dedup_embedding", _EMBED_PAIRS_SQL)
def x_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the LSH-bucketed self-join
    in its exhaustive configuration (planes=0 -> one bucket), so the full
    pair math — hoisted inverse norms, zip_with dot, rounding, threshold —
    is oracle-checked end-to-end. Multi-bucket recall is pinned in tests.
    (threshold 0.4 tuned to the synthetic embeddings' similarity range;
    production near-dup would use ~0.95)"""
    return S.dedup_near_embedding(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, planes=0
    )


_KNN_JOIN_SQL = """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                            for x in embedding])) AS nrm
      FROM embeddings
    ), p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum([CAST(a.embedding[i] AS DOUBLE)
                             * CAST(b.embedding[i] AS DOUBLE)
                             for i in range(1, len(a.embedding) + 1)])
                   / (a.nrm * b.nrm), 6) AS cosine_sim
      FROM n a, n b WHERE a.vec_id <> b.vec_id
    )
    SELECT id_a, id_b, cosine_sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY id_a ORDER BY cosine_sim DESC, id_b
      ) AS rank FROM p
    ) WHERE rank <= 3
    """


@_register("x_knn_join", _KNN_JOIN_SQL)
def x_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN self-join (top-3 per vector) through the cogrouped per-bucket
    matmul in its exact configuration (planes=0 -> one bucket): the
    vectorized ranking, tie-break and self-exclusion are oracle-checked.
    The bucketed (planes>0) scale path keeps its recall test."""
    embs = load_table(spark, sf_dir, "embeddings")
    return S.pairwise_topk_join(embs, embs, k=3, planes=0)


@_register("x_knn_join_bucketed", _KNN_JOIN_SQL)
def x_knn_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUCKETED k-NN join path (planes>0) under a full oracle: the
    probe-all configuration replicates the right side into all 2^planes
    buckets, so the real scale machinery — per-row LSH bucket
    assignment, 8-group cogroup shuffle, per-bucket chunked matmul —
    runs end-to-end yet must reproduce exact brute-force kNN
    bit-for-bit (same oracle as x_knn_join). Production uses
    probe_all=False where candidates stay bucket-local; recall of that
    configuration is pinned separately in tests."""
    embs = load_table(spark, sf_dir, "embeddings")
    return S.pairwise_topk_join(embs, embs, k=3, planes=3, probe_all=True)


# ===========================================================================
# Full-machinery queries: the remaining SURVEY.md §2 operators exercised
# end-to-end (decode cascade S2, parser+error-split P1/E1/E2, the complete
# topology M1, and the E3 feedback loop), phrased over `events`.
# ===========================================================================

from kafka_dead_letter_analyzer_spark.functions import headers as H  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import parsers as P  # noqa: E402
from kafka_dead_letter_analyzer_spark.plans.topology import (  # noqa: E402
    build_topology,
    error_feedback_pass,
)
from kafka_dead_letter_analyzer_spark.streaming.kafka import (  # noqa: E402
    avro_wire_encode_generic_udf,
    avro_wire_encode_udf,
    decode_kafka_records,
)

# Writer schema for the multi-schema Schema-Registry queries — the shape
# of the reference e2e's TestRecord key/value fixtures
# (DeadLetterAnalyzerTopologyTest.java:405,655: {"id":N}).
_TEST_RECORD_SCHEMA = (
    '{"type":"record","name":"TestRecord","namespace":"com.bakdata.kafka",'
    '"fields":[{"name":"id","type":"int"}]}'
)


@_register(
    "s2_decode_cascade",
    """
    SELECT event_id,
           event_type = 'error' AS is_dead_letter,
           CASE WHEN event_type = 'error' THEN 'Error in ' || event_type END
             AS description,
           CASE WHEN event_type = 'error' THEN 'java.lang.RuntimeException' END
             AS error_class
    FROM events
    """,
)
def s2_decode_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+F1: brute-force decode over Kafka-shaped binary records.

    'error' events carry a JSON DeadLetter payload (parses -> struct);
    everything else carries its raw props JSON (valid JSON but NOT the
    DeadLetter shape -> falls through to text). The oracle asserts the
    cascade's classification outcome per record."""
    events = load_table(spark, sf_dir, "events")
    dl_json = F.to_json(
        F.struct(
            F.concat(F.lit("Error in "), F.col("event_type")).alias("description"),
            F.struct(
                F.lit("java.lang.RuntimeException").alias("error_class")
            ).alias("cause"),
        )
    )
    val = F.when(F.col("event_type") == "error", dl_json).otherwise(F.col("props"))
    kafka_shaped = events.select(
        F.encode(F.concat(F.lit("k"), F.col("event_id").cast("string")), "UTF-8").alias("key"),
        F.encode(val, "UTF-8").alias("value"),
        F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
        F.lit("events-dead-letters").alias("topic"),
        (F.col("user_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    decoded = decode_kafka_records(kafka_shaped, use_avro=False)
    return decoded.select(
        F.col("offset").alias("event_id"),
        F.col("value_deadletter").isNotNull().alias("is_dead_letter"),
        F.col("value_deadletter.description").alias("description"),
        F.col("value_deadletter.cause.error_class").alias("error_class"),
    )


@_register(
    "s2_avro_wire",
    """
    SELECT event_id,
           (event_id % 3 != 0) AS is_avro,
           CASE WHEN event_id % 3 != 0
                THEN 'Error in ' || event_type END AS description,
           CASE WHEN event_id % 3 != 0
                THEN 'java.lang.RuntimeException' END AS error_class,
           CASE WHEN event_id % 3 != 0 THEN props END AS message,
           CASE WHEN event_id % 3 != 0
                THEN 'orig-' || event_type END AS origin_topic,
           CASE WHEN event_id % 3 != 0 THEN event_id END AS origin_offset,
           CASE WHEN event_id % 3 != 0
                THEN CAST(epoch_ms(ts) AS BIGINT) END AS input_ts_ms
    FROM events
    WHERE event_id < 30000
    """,
)
@_memo_plan_query("s2_avro_wire", ["events"])
def s2_avro_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 Avro tier EXECUTED over real Confluent-framed wire bytes.

    Two-thirds of the events are Avro-encoded DeadLetters (the engine's
    own spec-subset codec, functions/avro_codec.py — the byte layout the
    reference's Schema-Registry serde writes, pinned in
    tests/test_avro_wire.py); the rest carry raw props text, which must
    fall through the Avro tier without error. The oracle recomputes every
    decoded field — including the timestamp-millis round trip — straight
    from `events`, so a framing, union-order, or field-order defect in
    either codec direction flips this red.

    Scale note: the Avro tier is the Arrow-batched Python codec, whose
    per-record cost is Python-bound by construction — the corpus is
    bounded (event_id < 30,000: every row at the sf0.01 correctness gate,
    a fixed slice at bench scale) the same way the bounded all-pairs
    Jaccard query is.

    The bounded slice lands in ONE scan task (parquet splits by bytes),
    so without a spread the whole Python encode+decode cascade runs on
    one core — spread_for_cpu parallelizes it (measured 2.61 -> 1.74 s
    median at sf0.1); at real scale the guard makes it a no-op."""
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    events = spread_for_cpu(
        load_table(spark, sf_dir, "events").filter(F.col("event_id") < 30000)
    )
    enc = avro_wire_encode_udf()
    dl_json = F.to_json(
        F.struct(
            F.col("event_type").alias("input_value"),
            (F.col("user_id") % 4).cast("int").alias("partition"),
            F.concat(F.lit("orig-"), F.col("event_type")).alias("topic"),
            F.col("event_id").alias("offset"),
            F.concat(F.lit("Error in "), F.col("event_type")).alias("description"),
            F.struct(
                F.lit("java.lang.RuntimeException").alias("error_class"),
                F.col("props").alias("message"),
            ).alias("cause"),
            F.unix_millis(F.col("ts")).alias("input_timestamp"),
        )
    )
    val = F.when(F.col("event_id") % 3 != 0, enc(dl_json)).otherwise(
        F.encode(F.col("props"), "UTF-8")
    )
    kafka_shaped = events.select(
        F.encode(F.col("event_id").cast("string"), "UTF-8").alias("key"),
        val.alias("value"),
        F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
        F.lit("events-dead-letters").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    decoded = decode_kafka_records(kafka_shaped, use_avro=True)
    return decoded.select(
        F.col("offset").alias("event_id"),
        F.col("value_deadletter").isNotNull().alias("is_avro"),
        F.col("value_deadletter.description").alias("description"),
        F.col("value_deadletter.cause.error_class").alias("error_class"),
        F.col("value_deadletter.cause.message").alias("message"),
        F.col("value_deadletter.topic").alias("origin_topic"),
        F.col("value_deadletter.offset").alias("origin_offset"),
        F.unix_millis(F.col("value_deadletter.input_timestamp")).alias("input_ts_ms"),
    )


@_register(
    "s2_avro_key",
    """
    SELECT event_id,
           CASE WHEN event_id % 2 = 0
                THEN '{"id":' || CAST(event_id % 97 AS VARCHAR) || '}'
                ELSE 'k' || CAST(event_id AS VARCHAR) END AS key,
           (event_id % 2 = 0) AS key_was_avro
    FROM events
    WHERE event_id < 30000
    """,
)
@_memo_plan_query("s2_avro_key", ["events"])
def s2_avro_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 brute-force decode of record KEYS over real Confluent-framed
    wire bytes — the reference applies BruteForceSerde as the key serde
    too (DeadLetterAnalyzerTopology.java:102-105) and ``shouldReadAvroKey``
    (DeadLetterAnalyzerTopologyTest.java:636-675) pins the observable:
    an Avro-encoded key surfaces as its JSON rendering (``{"id":1}``).

    Even event_ids carry a framed TestRecord{id=event_id%97} key (schema
    id 7, resolved via the registry map); odd ids carry plain text keys.
    The oracle recomputes the exact JSON rendering from `events`, so a
    framing, varint, or rendering defect flips this red.

    Scale note: same boundedness contract as s2_avro_wire — the Python
    codec tier is exercised on a fixed slice, and the JVM-side frame
    prefilter keeps every non-framed key out of the Arrow round trip.
    NO spread here, deliberately: unlike s2_avro_wire's full
    DeadLetter payloads, the framed keys are tiny
    TestRecords — the r13 paired A/B measured the spread variant 1.4x
    SLOWER on this query (the extra exchange outweighs parallelizing
    the light codec work) while wire/multischema won 0.61/0.75."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 30000
    )
    enc = avro_wire_encode_generic_udf(_TEST_RECORD_SCHEMA, 7)
    rec_json = F.concat(
        F.lit('{"id":'), (F.col("event_id") % 97).cast("string"), F.lit("}")
    )
    key = F.when(F.col("event_id") % 2 == 0, enc(rec_json)).otherwise(
        F.encode(F.concat(F.lit("k"), F.col("event_id").cast("string")), "UTF-8")
    )
    kafka_shaped = events.select(
        key.alias("key"),
        F.encode(F.col("props"), "UTF-8").alias("value"),
        F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
        F.lit("events-dead-letters").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    decoded = decode_kafka_records(
        kafka_shaped, use_avro=True,
        registry={7: _TEST_RECORD_SCHEMA},
    )
    return decoded.select(
        F.col("offset").alias("event_id"),
        F.col("key"),
        F.col("key").startswith('{"id":').alias("key_was_avro"),
    )


@_register(
    "s2_avro_multischema",
    """
    SELECT event_id,
           CASE WHEN event_id % 3 = 0 THEN 'deadletter'
                WHEN event_id % 3 = 1 THEN 'record_json'
                ELSE 'text' END AS tier,
           (event_id % 3 = 0) AS is_dead_letter,
           CASE WHEN event_id % 3 = 0
                THEN 'Error in ' || event_type END AS description,
           CASE WHEN event_id % 3 = 1
                THEN '{"id":' || CAST(event_id % 97 AS VARCHAR) || '}'
                WHEN event_id % 3 = 2 THEN props END AS rendered_value
    FROM events
    WHERE event_id < 30000
    """,
)
@_memo_plan_query("s2_avro_multischema", ["events"])
def s2_avro_multischema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 Avro tier with Schema-Registry MULTI-SCHEMA semantics: two
    writer schemas are live on the same stream — DeadLetter (id 1) and
    TestRecord (id 7) — plus raw text. A framed NON-DeadLetter value must
    not poison the cascade: it JSON-renders into ``value_text`` (so it
    surfaces as ``input_value`` through the header dialects, exactly the
    reference's ``{"id":0}``, DeadLetterAnalyzerTopologyTest.java:409),
    while DeadLetter-framed values keep decoding into the struct tier.

    tier classification in the output is derived from the DECODE RESULT
    (struct hit / JSON render / raw text), not the input mod — so a
    dispatch defect (wrong schema for an id, fallthrough to the wrong
    tier) flips the oracle red.  Spread before the codec UDFs: the
    bounded slice is one scan task (the s2_avro_wire measurement)."""
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    events = spread_for_cpu(
        load_table(spark, sf_dir, "events").filter(F.col("event_id") < 30000)
    )
    enc_dl = avro_wire_encode_udf()
    enc_tr = avro_wire_encode_generic_udf(_TEST_RECORD_SCHEMA, 7)
    dl_json = F.to_json(
        F.struct(
            F.concat(F.lit("Error in "), F.col("event_type")).alias("description"),
            F.struct(
                F.lit("java.lang.RuntimeException").alias("error_class")
            ).alias("cause"),
        )
    )
    tr_json = F.concat(
        F.lit('{"id":'), (F.col("event_id") % 97).cast("string"), F.lit("}")
    )
    val = (
        F.when(F.col("event_id") % 3 == 0, enc_dl(dl_json))
        .when(F.col("event_id") % 3 == 1, enc_tr(tr_json))
        .otherwise(F.encode(F.col("props"), "UTF-8"))
    )
    kafka_shaped = events.select(
        F.encode(F.col("event_id").cast("string"), "UTF-8").alias("key"),
        val.alias("value"),
        F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
        F.lit("events-dead-letters").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    decoded = decode_kafka_records(
        kafka_shaped, use_avro=True,
        registry={7: _TEST_RECORD_SCHEMA},
    )
    is_dl = F.col("value_deadletter").isNotNull()
    is_rec_json = F.col("value_text").startswith('{"id":')
    return decoded.select(
        F.col("offset").alias("event_id"),
        F.when(is_dl, "deadletter")
        .when(is_rec_json, "record_json")
        .otherwise("text")
        .alias("tier"),
        is_dl.alias("is_dead_letter"),
        F.col("value_deadletter.description").alias("description"),
        F.when(~is_dl, F.col("value_text")).alias("rendered_value"),
    )


@_register(
    "p1_streams_parse",
    f"""
    SELECT event_id,
           CASE WHEN event_id % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
           CASE WHEN event_id % 7 != 0
                THEN 'Could not process ' || event_type END AS description,
           CASE WHEN event_id % 7 != 0 THEN event_id END AS origin_offset,
           CASE WHEN event_id % 7 = 0
                THEN 'Missing required header {H.STREAMS_DESCRIPTION}'
           END AS error_message
    FROM events
    """,
)
@_memo_plan_query("p1_streams_parse", ["events"])
def p1_streams_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P4+E1+E2: bakdata-Streams header parsing with reference error
    semantics over synthesized header multimaps.

    Every 7th record omits the required description header (-> error branch
    with the reference's message, HeaderHelper.java:58-60); every 5th
    record carries the legacy faulty offset header instead of the real one
    (-> the coalesce fallback of StreamsDeadLetterParser.java:57-60 must
    recover the same offset)."""
    events = load_table(spark, sf_dir, "events")

    def _build():
        def hdr(name: Column | str, value: Column) -> Column:
            name_col = F.lit(name) if isinstance(name, str) else name
            return F.struct(
                name_col.alias("key"), F.encode(value, "UTF-8").alias("value")
            )

        offset_hdr_name = F.when(
            F.col("event_id") % 5 == 0, F.lit(H.STREAMS_FAULTY_OFFSET)
        ).otherwise(F.lit(H.STREAMS_OFFSET))
        full = F.array(
            hdr(H.STREAMS_PARTITION, (F.col("user_id") % 4).cast("string")),
            hdr(H.STREAMS_TOPIC, F.concat(F.lit("orig-"), F.col("event_type"))),
            hdr(offset_hdr_name, F.col("event_id").cast("string")),
            hdr(H.STREAMS_DESCRIPTION, F.concat(F.lit("Could not process "), F.col("event_type"))),
            hdr(H.STREAMS_EXCEPTION_CLASS_NAME, F.lit("java.lang.RuntimeException")),
            hdr(H.STREAMS_EXCEPTION_MESSAGE, F.col("props")),
            hdr(
                H.STREAMS_EXCEPTION_STACK_TRACE,
                F.concat(
                    F.lit("java.lang.RuntimeException: fail\n\tat com.example.H.handle(H.java:1)\n")
                ),
            ),
        )
        headers = F.when(
            F.col("event_id") % 7 == 0,
            F.filter(full, lambda x: x["key"] != H.STREAMS_DESCRIPTION),
        ).otherwise(full)
        hmap = H.headers_to_map(headers)
        return P.parse_streams(hmap, F.col("props"), F.col("ts"))

    dead_letter, error = _cached_cols("p1_parse_trees", _build)
    # Two-step projection: the parse trees are referenced by several
    # conditional output columns, and Spark's subexpression elimination
    # skips conditionally-evaluated expressions — aliasing them in their
    # own Project keeps CollapseProject from re-inlining the expensive
    # trees per referencing column (measured 4x without this).
    parsed = events.select(
        "event_id", dead_letter.alias("_dl"), error.alias("_err")
    )
    ok = F.col("_err").isNull()
    return parsed.select(
        "event_id",
        F.when(ok, F.lit("ok")).otherwise(F.lit("error")).alias("status"),
        F.when(ok, F.col("_dl.description")).alias("description"),
        F.when(ok, F.col("_dl.offset")).alias("origin_offset"),
        F.when(~ok, F.col("_err.message")).alias("error_message"),
    )


def _events_envelope(events: DataFrame) -> DataFrame:
    """events rows -> RAW_ENVELOPE carrying an Avro-dialect DeadLetter value.

    Every 11th record has a NULL stack trace, which N1 cannot classify ->
    routed to the error topic with "Error analyzing dead letter"
    (ContextEnricher.java:39, DeadLetterAnalyzerTopology.java:120)."""
    def _build():
        trace = F.concat(
            F.lit("java.lang.RuntimeException: fail "),
            F.col("event_type"),
            F.lit("\n\tat com.example."),
            F.col("event_type"),
            F.lit(".handle(Handler.java:"),
            (F.col("user_id") % 5).cast("string"),
            F.lit(")\n"),
        )
        dl = F.struct(
            F.col("props").cast("string").alias("input_value"),
            (F.col("user_id") % 4).cast("int").alias("partition"),
            F.concat(F.lit("orig-"), F.col("event_type")).alias("topic"),
            F.col("event_id").cast("long").alias("offset"),
            F.concat(F.lit("Error processing "), F.col("event_type")).alias("description"),
            F.struct(
                F.lit("java.lang.RuntimeException").alias("error_class"),
                F.concat(F.lit("fail "), F.col("event_type")).alias("message"),
                F.when(F.col("event_id") % 11 != 0, trace).alias("stack_trace"),
            ).alias("cause"),
            F.col("ts").alias("input_timestamp"),
        )
        return [
            F.lit("events-dead-letters").alias("topic"),
            (F.col("user_id") % 2).cast("int").alias("partition"),
            F.col("event_id").cast("long").alias("offset"),
            F.col("ts").alias("timestamp"),
            F.concat(F.lit("k"), F.col("event_id").cast("string")).alias("key"),
            dl.alias("value_deadletter"),
            F.lit(None).cast("string").alias("value_text"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
        ]

    return events.select(*_cached_cols("events_envelope", _build))


def _analyzer_topology(spark: SparkSession, sf_dir: str):
    """Memoized ``build_topology(_events_envelope(load_table(events)))``
    per (session, events.parquet mtime/size) — the r13.17 ranker-memo
    pattern applied to the analyzer core: m1_topology_main and
    e3_feedback_stats each rebuilt the same union topology per
    invocation (~0.5 s of pure py4j/analysis chatter; build_topology
    registers no persists, so there is nothing to re-arm here).  Plan
    metadata only — every forced action still computes from parquet."""
    import os as _os

    from kafka_dead_letter_analyzer_spark.sources.batch import _session_key

    key = None
    try:
        st = _os.stat(f"{sf_dir}/events.parquet")
        key = (_session_key(spark), sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        pass  # let load_table surface the reader's own error
    got = _TOPOLOGY_MEMO.get(key) if key is not None else None
    if got is None:
        got = build_topology(
            _events_envelope(load_table(spark, sf_dir, "events"))
        )
        if key is not None:
            if len(_TOPOLOGY_MEMO) >= 64:  # tests touch many tmp dirs
                _TOPOLOGY_MEMO.clear()
            _TOPOLOGY_MEMO[key] = got
    return got


def _analyzer_feedback(spark: SparkSession, sf_dir: str):
    """Memoized ``error_feedback_pass`` over the memoized topology —
    separate stage so m1 never pays the feedback build.  The pass
    PERSISTS the error-topic boundary internally, so the memo
    registry-diffs the build and re-arms those frames per call (the
    r13.17 snapshot pattern: release_all()/clearCache() unpersists
    them between bench queries)."""
    import os as _os

    from pyspark import StorageLevel

    from kafka_dead_letter_analyzer_spark.sources.batch import _session_key

    key = None
    try:
        st = _os.stat(f"{sf_dir}/events.parquet")
        key = (_session_key(spark), sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        pass  # let load_table surface the reader's own error
    got = _FEEDBACK_MEMO.get(key) if key is not None else None
    if got is None:
        before = {id(f) for f in cache_registry.snapshot()}
        out2 = error_feedback_pass(_analyzer_topology(spark, sf_dir))
        internal = [
            f for f in cache_registry.snapshot() if id(f) not in before
        ]
        arm = [(f, f.storageLevel) for f in internal]
        got = (out2, arm)
        if key is not None:
            if len(_FEEDBACK_MEMO) >= 64:
                _FEEDBACK_MEMO.clear()
            _FEEDBACK_MEMO[key] = got
    out2, arm = got
    for frame, level in arm:
        if frame.storageLevel == StorageLevel.NONE:
            cache_registry.track(frame.persist(level))
    return out2


_TOPOLOGY_MEMO: dict = {}
_FEEDBACK_MEMO: dict = {}



@_register(
    "m1_topology_main",
    f"""
    SELECT 'events-dead-letters+' || (user_id % 2) || '+' || event_id AS kafka_key,
           'k' || event_id AS key,
           event_id AS offset,
           CAST(user_id % 2 AS INTEGER) AS partition,
           strftime(ts, '{TS_PATTERN_SQL}') AS timestamp,
           'events-dead-letters' AS topic,
           'com.example.' || event_type || '.handle(Handler.java:'
             || (user_id % 5) || ')' AS type,
           props AS input_value,
           'Error processing ' || event_type AS description
    FROM events
    WHERE event_id % 11 != 0
    """,
)
def m1_topology_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE topology (S->F->N1->E1->M1/K1), main output flattened.

    Records with a NULL stack trace (every 11th) must be absent here — they
    took the error branch. The classified type, elastic document key, and
    formatted timestamp are all asserted against the oracle."""
    out = _analyzer_topology(spark, sf_dir)
    f = out.full_dead_letters
    return f.select(
        "kafka_key",
        "key",
        "offset",
        "partition",
        "timestamp",
        "topic",
        "type",
        F.col("dead_letter.input_value").alias("input_value"),
        F.col("dead_letter.description").alias("description"),
    )


@_register(
    "e3_feedback_stats",
    """
    SELECT 'analyzer-dead-letters:java.util.NoSuchElementException' AS kafka_key,
           CAST(count(*) AS INTEGER) AS count,
           'analyzer-dead-letters' AS topic,
           'java.util.NoSuchElementException' AS type
    FROM events
    WHERE event_id % 11 = 0
    """,
)
def e3_feedback_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: the analyzer's own failures re-enter it and are analyzed.

    Pass 1 routes null-stack-trace records to the error topic
    ("Error analyzing dead letter" dead letters with a synthetic
    NoSuchElementException cause); the feedback pass re-ingests that topic
    and must classify every one of them (self-analysis e2e,
    DeadLetterAnalyzerTopologyTest.java:320-383). Timestamp columns are
    excluded: feedback arrival time is not a function of the data."""
    out2 = _analyzer_feedback(spark, sf_dir)
    return out2.error_statistics.select("kafka_key", "count", "topic", "type")


# The winnowing rolling hash is plain polynomial arithmetic mod 2^64
# (base 1000003 over the normalized text's ASCII codes) — unlike the
# xxhash64-based operators it IS reproducible in SQL: DuckDB HUGEINT
# carries the 5-term polynomial exactly, one mod folds it to uint64, and a
# CASE maps to the signed int64 the engine emits. Window minima, distinct,
# df-cap and the pair count are then ordinary relational steps. Constants
# inline: 1000003^4..^1; 2^64; 2^63. NOTE the short-doc branch must stay
# integer-typed — a ** (double) expression there would poison the CASE's
# unified type and silently destroy 64-bit precision.
_WINNOW_B = 1_000_003
_WINNOW_SQL = rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ), h AS (
      SELECT doc_id,
        CASE WHEN len(t) < 5 THEN
          [coalesce(list_sum([ord(t[j])
                    * ([1, {_WINNOW_B}, {_WINNOW_B**2}, {_WINNOW_B**3}][len(t) - j + 1])::HUGEINT
                    for j in range(1, len(t) + 1)]), 0) % {2**64}::HUGEINT]
        ELSE
          [(ord(t[i]) * {_WINNOW_B**4}::HUGEINT + ord(t[i+1]) * {_WINNOW_B**3}::HUGEINT
            + ord(t[i+2]) * {_WINNOW_B**2}::HUGEINT + ord(t[i+3]) * {_WINNOW_B}::HUGEINT
            + ord(t[i+4])) % {2**64}::HUGEINT
           for i in range(1, len(t) - 3)]
        END AS rh
      FROM norm
    ), mins AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN len(rh) < 4 THEN [list_min(rh)]
               ELSE [list_min(rh[i:i+3]) for i in range(1, len(rh) - 2)] END
        ) AS fps
      FROM h
    ), postings AS (
      SELECT doc_id,
             CAST(CASE WHEN fp >= {2**63}::HUGEINT THEN fp - {2**64}::HUGEINT
                       ELSE fp END AS BIGINT) AS fingerprint
      FROM mins, unnest(fps) AS u(fp)
    ), rare AS (
      SELECT fingerprint FROM postings GROUP BY fingerprint HAVING count(*) <= 100
    ), p AS (
      SELECT postings.doc_id, postings.fingerprint
      FROM postings JOIN rare USING (fingerprint)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS INTEGER) AS shared_fingerprints
    FROM p a JOIN p b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """


@_register("x_winnow_near_dups", _WINNOW_SQL)
def x_winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) near-duplicate pairs: k-gram rolling hashes
    -> per-window minima sketch -> inverted-index self-join counting shared
    fingerprints (Schleimer et al., SIGMOD'03). Oracle-checked end-to-end:
    the polynomial hash, window minima, df-cap and pair counts are all
    reproduced exactly in DuckDB SQL (see _WINNOW_SQL).
    (max_df/min_shared tuned to the synthetic corpus, which is template
    generated and extremely repetitive — 834 distinct fingerprints across
    5000 sf0.1 docs, median document frequency 287.)"""
    return TX.winnow_near_dups(
        load_table(spark, sf_dir, "documents"), min_shared=3, max_df=100
    )


@_register("x_cosine_topk_ivf", _COSINE_TOPK_SQL)
def x_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF at FULL probe (nprobe == n_centroids): the
    quantizer fit, cell-assignment matmul and cell filter all run, and the
    result must equal brute-force exactly (oracle-checked). Pruned-probe
    (nprobe=4) recall vs exact search is pinned in tests."""
    embs = load_table(spark, sf_dir, "embeddings")
    [row] = embs.filter(F.col("vec_id") == 0).select("embedding").collect()
    centroids = S.fit_ivf_centroids(embs, n_centroids=16, sample_size=1024)
    return S.cosine_topk_ivf(
        embs, list(row["embedding"]), centroids, k=10, nprobe=16
    )


@_register(
    "x_stats_rollup",
    """
    SELECT coalesce(event_type, '<all>') AS type,
           coalesce(CAST(user_id % 4 AS VARCHAR), '<all>') AS origin_partition,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY ROLLUP (event_type, CAST(user_id % 4 AS VARCHAR))
    """,
)
def x_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical stats (dashboard surface): per (type, origin-partition)
    counts with ROLLUP subtotals per type and a grand total. One shuffle;
    Spark expands grouping sets map-side."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.col("event_type"),
            (F.col("user_id") % 4).cast("string").alias("origin_partition"),
        )
        .rollup("event_type", "origin_partition")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("type"),
            F.coalesce(F.col("origin_partition"), F.lit("<all>")).alias(
                "origin_partition"
            ),
            F.col("n"),
        )
    )


@_register(
    "x_top_types_per_topic",
    """
    SELECT type, origin_partition, n, CAST(rank AS INTEGER) AS rank FROM (
      SELECT event_type AS type,
             CAST(user_id % 4 AS INTEGER) AS origin_partition,
             CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY count(*) DESC, CAST(user_id % 4 AS INTEGER)
             ) AS rank
      FROM events
      GROUP BY event_type, CAST(user_id % 4 AS INTEGER)
    ) WHERE rank <= 2
    """,
)
def x_top_types_per_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 origin partitions per error type by volume (windowed top-k
    after aggregation — the window runs over |types x partitions| grouped
    rows, never the raw stream; deterministic tiebreak)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    grouped = (
        events.groupBy(
            F.col("event_type").alias("type"),
            (F.col("user_id") % 4).cast("int").alias("origin_partition"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("type").orderBy(
        F.col("n").desc(), F.col("origin_partition")
    )
    return (
        grouped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
    )


# ---------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): as-of join, session windows,
# bucketed range join — oracle = DuckDB's native ASOF JOIN / window SQL, so
# the engine's composition dialects are checked against a first-class
# implementation of the semantics.
# ---------------------------------------------------------------------------

from kafka_dead_letter_analyzer_spark.operators import graph as G  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import sampling as SA  # noqa: E402
from kafka_dead_letter_analyzer_spark.operators import temporal as T  # noqa: E402


@_register(
    "x_asof_hourly_snapshot",
    f"""
    WITH snap AS (
      SELECT event_type, date_trunc('hour', ts) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_in_hour
      FROM events GROUP BY 1, 2
    )
    SELECT l.event_id, l.event_type,
           strftime(l.ts, '{TS_PATTERN_SQL}') AS ts_s,
           strftime(r.valid_from, '{TS_PATTERN_SQL}') AS asof_from,
           r.n_in_hour
    FROM events l
    ASOF LEFT JOIN snap r
      ON l.event_type = r.event_type AND l.ts >= r.valid_from
    """,
)
def x_asof_hourly_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event picks up the most recent hourly per-type
    snapshot (greatest valid_from <= ts). Engine = the union + running
    last(ignorenulls) dialect (one shuffle, one sort); oracle = DuckDB's
    native ASOF JOIN over the same snapshot table."""
    events = load_table(spark, sf_dir, "events")
    snap = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("valid_from")
    ).agg(F.count(F.lit(1)).alias("n_in_hour"))
    joined = T.asof_join(
        events.select("event_id", "event_type", "ts"),
        snap,
        on="event_type",
        left_ts="ts",
        right_ts="valid_from",
    )
    return joined.select(
        "event_id",
        "event_type",
        format_timestamp("ts").alias("ts_s"),
        format_timestamp("asof_ts").alias("asof_from"),
        "n_in_hour",
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000


@_register(
    "x_session_stats",
    f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '{TS_PATTERN_SQL}') AS session_start,
           strftime(max(ts), '{TS_PATTERN_SQL}') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_idx
    """,
)
def x_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregates (30-minute inactivity gap) via Spark's
    NATIVE session-window aggregation — one partial-agg shuffle, no
    row-level window sort. Oracle = gaps-and-islands SQL with the same
    inclusive integer-microsecond boundary (new session iff gap > 30 min;
    an event exactly at the previous session's end merges), which is
    F.session_window's merge rule; the row-level sessionize() dialect is
    pinned equal in tests/test_temporal.py."""
    events = load_table(spark, sf_dir, "events")
    return T.session_stats(
        events, key="user_id", ts_col="ts", gap_us=_SESSION_GAP_US
    ).select(
        "user_id",
        format_timestamp("session_start").alias("session_start"),
        format_timestamp("session_end").alias("session_end"),
        "n_events",
    )


@_register(
    "x_range_join",
    f"""
    WITH iv AS (
      SELECT event_type,
             min(ts) AS start, min(ts) + INTERVAL 2 HOUR AS "end",
             'head' AS window_tag
      FROM events GROUP BY event_type
      UNION ALL
      SELECT event_type,
             max(ts) - INTERVAL 2 HOUR AS start, max(ts) AS "end",
             'tail' AS window_tag
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           strftime(e.ts, '{TS_PATTERN_SQL}') AS ts_s, iv.window_tag
    FROM events e JOIN iv
      ON e.event_type = iv.event_type
     AND e.ts >= iv.start AND e.ts <= iv."end"
    """,
)
def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join (events inside each type's first/last
    2-hour window) executed as an EQUI-join on (key, hour-bucket) with
    exploded interval buckets — a hash join Catalyst can shuffle or
    broadcast, instead of the O(|L|*|R|) BroadcastNestedLoopJoin a bare
    range predicate plans. Oracle = the plain range join in DuckDB."""
    events = load_table(spark, sf_dir, "events")
    two_hours = F.expr("INTERVAL 2 HOURS")
    head = events.groupBy("event_type").agg(F.min("ts").alias("start")).select(
        "event_type",
        "start",
        (F.col("start") + two_hours).alias("end"),
        F.lit("head").alias("window_tag"),
    )
    tail = events.groupBy("event_type").agg(F.max("ts").alias("end")).select(
        "event_type",
        (F.col("end") - two_hours).alias("start"),
        "end",
        F.lit("tail").alias("window_tag"),
    )
    joined = T.range_join_bucketed(
        events.select("event_id", "event_type", "ts"),
        head.unionByName(tail),
        on="event_type",
        ts_col="ts",
        start_col="start",
        end_col="end",
    )
    return joined.select(
        "event_id",
        "event_type",
        format_timestamp("ts").alias("ts_s"),
        "window_tag",
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster assignment: connected components over the verified
# minhash pair set (operators/graph.py). Oracle: DuckDB recursive CTE
# propagating min labels along the SAME pairs the minhash oracle derives.
# ---------------------------------------------------------------------------


@_register(
    "x_dup_clusters",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    n AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM n
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    )
    SELECT id AS doc_id, min(lab) AS component FROM cc GROUP BY id
    """,
)
def x_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pair output: connected components (min-label
    propagation, localCheckpoint per round) over the exact-verified
    minhash pair set — the canonical-doc assignment a dedup pipeline
    actually consumes. Oracle: recursive-CTE label propagation over the
    identical pair set in DuckDB."""
    pairs = D.dedup_near_minhash(
        load_table(spark, sf_dir, "documents"),
        num_hashes=64,
        bands=32,
        threshold=0.5,
    )
    return G.connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )


# cluster-safe split thresholds: the hash_split cumulative md5-u32
# ranges for {train: 0.8, val: 0.1, test: 0.1}, duplicated literally in
# the oracle (insertion order defines range order, exactly hash_split)
_CSS_HI1 = int(0.8 * (1 << 32))
_CSS_HI2 = _CSS_HI1 + int(0.1 * (1 << 32))
_CSS_POWS = ", ".join(str(16 ** (8 - i)) for i in range(1, 9))


@_register(
    "x_cluster_safe_split",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    n AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM n
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    ),
    comp AS (SELECT id, min(lab) AS component FROM cc GROUP BY id),
    sel AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.component, d.doc_id) AS BIGINT)
               AS cluster_rep
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    h AS (
      SELECT doc_id, cluster_rep,
             list_sum([(strpos('0123456789abcdef',
                               md5(CAST(cluster_rep AS VARCHAR)
                                   || ':split')[i]) - 1)
                       * ([{_CSS_POWS}][i])::BIGINT
                       for i in range(1, 9)]) AS hv
      FROM sel
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN hv < {_CSS_HI1} THEN 'train'
                WHEN hv < {_CSS_HI2} THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def x_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-safe train/val/test split
    (operators/sampling.py::cluster_safe_split): the md5-u32 range
    draw of hash_split taken on the CONNECTED-COMPONENT representative
    of the exact-verified minhash pair set, so every member of a
    near-dup cluster lands in the same split (the Lee et al. 2021
    test-leak channel closed with a verifiable guarantee) while
    singletons keep their plain hash_split assignment (eval sets stay
    stable as dedup coverage improves).  Fully oracle-checked
    end-to-end: recursive-CTE label propagation (the x_dup_clusters
    oracle) + the md5-nibble u32 ranges (the x_hash_sample trick).
    Plan: CC over the pair set, ONE corpus-vs-components equi-join,
    then a pure projection — no window, no second corpus shuffle."""
    pairs = D.dedup_near_minhash(
        load_table(spark, sf_dir, "documents"),
        num_hashes=64,
        bands=32,
        threshold=0.5,
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return SA.cluster_safe_split(
        docs,
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select(
        "doc_id", F.col("cluster_rep").cast("bigint"), "split"
    )


# ---------------------------------------------------------------------------
# Deterministic sampling (operators/sampling.py): md5-rank quota per
# stratum — reproducible under any partitioning, and bit-identical in
# DuckDB (same md5 hex ordering).
# ---------------------------------------------------------------------------


@_register(
    "x_stratified_sample",
    """
    SELECT doc_id, lang, CAST(rn AS INTEGER) AS sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 25
    """,
)
def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quota sample: 25 docs per language, chosen by md5 rank
    of doc_id — a deterministic uniform draw, stable across partitionings
    and engines (df.sample() is neither). One shuffle on the stratum."""
    return SA.stratified_quota(
        load_table(spark, sf_dir, "documents"),
        stratum="lang",
        key="doc_id",
        k=25,
    ).select("doc_id", "lang", "sample_rank")


# ---------------------------------------------------------------------------
# Large-message wire protocol (streaming/large_message.py): byte-flag
# encode -> decode round-trip over real binary values, with the backed
# flag surfaced. Oracle: identity + the threshold predicate.
# ---------------------------------------------------------------------------


@_register(
    "x_large_message_roundtrip",
    """
    SELECT doc_id, text AS text_out,
           CASE WHEN text IS NULL THEN NULL
                ELSE octet_length(encode(text)) > 256 END AS backed
    FROM documents
    """,
)
def x_large_message_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bakdata byte-flag large-message wire protocol, end to end: encode
    (values > 256 bytes content-addressed into the blob store, 0x01+URI on
    the wire; small values 0x00+payload) then decode back — the declared
    result must be the identity, plus the wire 'backed' flag read
    JVM-side off the encoded bytes. Oracle: the identity projection with
    the same threshold predicate."""
    from kafka_dead_letter_analyzer_spark.streaming import large_message as LM

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("value")
    )
    encoded = LM.wire_encode(
        docs, value_col="value", threshold=256,
        blob_dir="/tmp/kdla-large-messages",
    ).withColumn("backed", LM.wire_backed_flag("value"))
    decoded = LM.wire_decode(encoded, value_col="value")
    return decoded.select(
        "doc_id", F.col("value").cast("string").alias("text_out"), "backed"
    )


_HEX8_POWS = ", ".join(str(16 ** (8 - i)) for i in range(1, 9))
_HASH_RATE = 0.3
_HASH_THRESHOLD = int(_HASH_RATE * (1 << 32))


@_register(
    "x_hash_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             list_sum([(strpos('0123456789abcdef',
                               md5(CAST(doc_id AS VARCHAR))[i]) - 1)
                       * ([{_HEX8_POWS}][i])::BIGINT
                       for i in range(1, 9)]) AS h
      FROM documents
    ) WHERE h < {_HASH_THRESHOLD}
    """,
)
def x_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample (rate 0.3) by md5 of the row key —
    the keep/drop decision is a pure function of the data, so the sample
    is identical under any partitioning, retry, or engine (oracle
    recomputes the same 32-bit hash from md5 hex in DuckDB). Filter-only
    plan: no shuffle, evaluated at the scan."""
    return SA.hash_bernoulli_sample(
        load_table(spark, sf_dir, "documents"), key="doc_id", rate=_HASH_RATE
    ).select("doc_id", "lang")


@_register(
    "x_session_rows",
    f"""
    SELECT event_id, user_id,
           CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS session_idx
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    """,
)
def x_session_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level session assignment (the per-row dialect next to
    x_session_stats' aggregated one): every event tagged with its 1-based
    per-user session index. Two stacked window functions sharing ONE
    partitioning+sort; integer-microsecond boundary math is bit-identical
    in the DuckDB islands oracle."""
    events = load_table(spark, sf_dir, "events")
    return T.sessionize(
        events.select("event_id", "user_id", "ts"),
        key="user_id",
        ts_col="ts",
        gap_us=_SESSION_GAP_US,
        tiebreak="event_id",
    ).select("event_id", "user_id", "session_idx")


@_register(
    "x_corpus_dedup_pipeline",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    nn AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM nn
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    ),
    comp AS (SELECT id, min(lab) AS component FROM cc GROUP BY id),
    drops AS (SELECT id FROM comp WHERE id != component),
    kept AS (
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id NOT IN (SELECT id FROM drops)
    )
    SELECT doc_id, lang, CAST(rn AS INTEGER) AS sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM kept
    ) WHERE rn <= 25
    """,
)
def x_corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus pass, composed from this engine's
    own operators: minhash near-dup pairs (exact-verified) -> connected
    components -> drop every non-canonical cluster member (keep min
    doc_id) -> deterministic 25-per-language quota sample of the deduped
    corpus. One declared query so the driver checks the whole composition,
    not just the parts; at 100 TB each stage keeps its own documented
    scale shape (banded candidate join; id-only CC iterations; md5-rank
    window over the surviving rows). collapse_exact is ON — the
    adversarial-corpus armor (exact-dup groups band as one rep + a star,
    not a k^2 clique) is component-equivalent, so the oracle is
    unchanged while the pipeline survives a copy-heavy crawl."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_near_minhash(
        docs, num_hashes=64, bands=32, threshold=0.5, collapse_exact=True
    )
    comp = G.connected_components(pairs)
    drops = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    kept = docs.join(drops, "doc_id", "left_anti")
    return SA.stratified_quota(kept, stratum="lang", key="doc_id", k=25).select(
        "doc_id", "lang", "sample_rank"
    )


# ---------------------------------------------------------------------------
# Analytics extensions (operators/analytics.py): exact percentiles,
# outer-join histograms, decorrelated subqueries, pivot, rolling windows,
# vector centroids, distinct aggregation. Each a capability class the
# reference's monitoring consumers reach for next (SURVEY.md §2.8 A1 is
# count/min/max only).
# ---------------------------------------------------------------------------

from kafka_dead_letter_analyzer_spark.operators import analytics as AN  # noqa: E402


@_register(
    "x_latency_percentiles",
    """
    SELECT event_type,
           max(CASE WHEN rn = (1 * n + 1) // 2 THEN value END) AS p50,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
    FROM (
      SELECT event_type, value,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    GROUP BY event_type
    """,
)
def x_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 of `value` per event type — the
    latency-distribution rollup next to A1's count/min/max. Rank targets
    are integer arithmetic (ceil(p*n) = (num*n+den-1) div den), so the
    selected element is bit-identical in any engine; the emitted value is
    a raw table element, never an interpolation. ONE Exchange: the
    ordered window and the following groupBy share the event_type hash
    partitioning (plan-pinned)."""
    events = load_table(spark, sf_dir, "events")
    return AN.exact_percentiles(
        # NULL values are excluded on BOTH sides: Spark orders nulls
        # first ascending, DuckDB last — with nulls present the rank
        # arithmetic would pick different elements per engine.
        events.filter(F.col("value").isNotNull()).select(
            "event_type", "value", "event_id"
        ),
        key="event_type",
        value_col="value",
        tiebreak="event_id",
    )


@_register(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram including the
    zero-order customers (the outer-join + null-aware count class).
    Spark plan pre-aggregates orders per custkey BEFORE the join — the
    join input shrinks from |orders| to |custkeys| rows, and the
    customer side joins against the aggregate (semantically identical
    because c_custkey is unique). Two shuffles total (orders agg,
    join+histogram); the histogram agg is on a handful of distinct
    counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    joined = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(F.coalesce(F.col("_cnt"), F.lit(0)).cast("bigint").alias("c_count"))
    return joined.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@_register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT COALESCE(CAST(sum(li.price_cents) AS BIGINT), 0)
             AS small_qty_revenue_cents
    FROM (
      SELECT l_partkey,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
    ) li
    JOIN (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             count(*) AS cnt
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
      GROUP BY l_partkey
    ) a ON a.pk = li.l_partkey
    WHERE 5 * li.qty * a.cnt < a.sum_qty
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is below
    20% of the per-part average — the correlated-scalar-subquery class,
    decorrelated into a per-key aggregate joined back to the fact rows.
    The threshold qty < 0.2 * (sum/cnt) is evaluated as
    5*qty*cnt < sum in exact BIGINT (l_quantity is integral; money is
    DECIMAL->cents BIGINT), so no float division crosses the boundary.
    The part filter broadcasts into both lineitem scans; the join back
    is an equi-join on l_partkey."""
    part_ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part_ids), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").cast("bigint").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    ).withColumnRenamed("l_partkey", "pk")
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.coalesce(F.sum("price_cents"), F.lit(0))
            .cast("bigint")
            .alias("small_qty_revenue_cents")
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "x_event_type_pivot",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
    FROM events
    GROUP BY day
    """,
)
def x_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily counts pivoted to one column per event type (the wide
    dashboard shape). The pivot value list is fixed, so it is lowered to
    ONE-pass conditional aggregation — `DataFrame.pivot` with the same
    explicit values still plans two Exchanges ((day, type) partials,
    then the day pivot); conditional counts fold the pivot into a single
    partial-agg shuffle on `day` (plan-pinned). Absent (day, type) cells
    are 0 because count() of an all-null branch is 0, matching the
    oracle's FILTER counts."""
    events = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(t)
        for t in _EVENT_TYPES
    ]
    return (
        events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .groupBy("day")
        .agg(*aggs)
    )


@_register(
    "x_rolling_daily_counts",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT event_type, day_idx, n,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day_idx
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling7
    FROM daily
    """,
)
def x_rolling_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily counts with a 7-day rolling total — the
    error-rate-trend query. The rolling frame is RANGE over an integer
    epoch-day index (not ROWS), so days missing from the series are
    still windowed by time. Pre-aggregation bounds the window input to
    one row per (type, day): the sort behind the window is over the
    daily rollup, never the raw events."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return AN.rolling_range_sum(
        daily, key="event_type", order_col="day_idx", value_col="n",
        preceding=6, alias="rolling7",
    )


@_register(
    "x_lang_centroid",
    """
    SELECT lang, pos,
           CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_scaled,
           CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT d.lang,
             unnest(e.embedding) AS val,
             CAST(unnest(range(len(e.embedding))) AS INTEGER) AS pos
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    )
    GROUP BY lang, pos
    """,
)
def x_lang_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroid, as exact scaled-integer
    element sums plus the group count (mean = sum_scaled / (n*1e6)).
    Floats are floored to scaled BIGINT before summing because float
    addition is order-dependent and distributed sums have no order —
    the integer formulation is associative and partition-independent.
    posexplode fans out x64 map-side; partial aggregation combines to
    <= 5 langs x 64 dims rows per task before the single Exchange
    (plan-pinned: the shuffle carries combined partials, not exploded
    elements). The oracle zips parallel unnests of the values and their
    subscripts — dim-agnostic, so a regenerated corpus with a different
    embedding dimension cannot desynchronize the two sides."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select("lang", "embedding")
    return AN.grouped_centroid_sums(joined, key="lang", vec_col="embedding")


@_register(
    "x_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users,
           CAST(count(*) AS BIGINT) AS events
    FROM events
    GROUP BY event_type
    """,
)
def x_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user count per event type next to the raw event count —
    the distinct-aggregation class (Catalyst expands to a two-phase
    plan: partial distinct on (type, user), then the final count). For
    cardinalities where an 0.5%-error sketch is acceptable,
    approx_count_distinct keeps it to one pass; the differential test
    bounds the sketch against this exact path."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("events"),
    )


# ---------------------------------------------------------------------------
# Corpus-hygiene extensions: benchmark decontamination, Gopher-style
# repetition signals, adaptive (percentile-derived) quality thresholds.
# ---------------------------------------------------------------------------

from kafka_dead_letter_analyzer_spark.operators import contamination as CN  # noqa: E402

# Shared oracle fragment: tokens + 8-token shingles, mirroring
# dedup.py::_tokens / token_shingles at k=8 (trim+lower, split on \s+,
# whole-doc fallback under 8 tokens, empty set for blank docs).
_SHINGLE8_CTES = r"""t8 AS (
      SELECT doc_id, source,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), s8 AS (
      SELECT doc_id, source, unnest(list_distinct(
        CASE WHEN len(toks) >= 8
             THEN [array_to_string(toks[i:i+7], ' ')
                   for i in range(1, len(toks) - 6)]
             WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
             ELSE []::VARCHAR[] END)) AS sh
      FROM t8
    )"""


@_register(
    "x_contamination_overlap",
    f"""
    WITH {_SHINGLE8_CTES},
    bench AS (SELECT DISTINCT sh FROM s8 WHERE source = 'src0'),
    corpus AS (SELECT doc_id, sh FROM s8 WHERE source <> 'src0')
    SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
    FROM corpus JOIN bench USING (sh)
    GROUP BY doc_id
    """,
)
def x_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Llama data-card hygiene
    pass): every corpus document sharing an 8-token gram with the
    held-out set (source='src0' standing in for the eval benchmark),
    with the count of distinct shared grams. The benchmark's distinct
    grams BROADCAST into a map-side join — corpus grams never shuffle;
    only per-doc match counts aggregate. Gram semantics are shared with
    the dedup family (dedup.py::token_shingles, k=8)."""
    docs = load_table(spark, sf_dir, "documents")
    return CN.ngram_overlap(
        corpus=docs.filter(F.col("source") != "src0"),
        benchmark=docs.filter(F.col("source") == "src0"),
        n=8,
    )


@_register(
    "x_contamination_prefiltered",
    f"""
    WITH {_SHINGLE8_CTES},
    bench AS (SELECT DISTINCT sh FROM s8 WHERE source = 'src0'),
    corpus AS (SELECT doc_id, sh FROM s8 WHERE source <> 'src0')
    SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
    FROM corpus JOIN bench USING (sh)
    GROUP BY doc_id
    """,
)
def x_contamination_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_contamination_overlap with the Bloom PREFILTER in front of
    the exact join (operators/contamination.py::
    ngram_overlap_prefiltered) — and the SAME oracle SQL as the
    unfiltered query ON PURPOSE: the hash gate itself proves the
    prefilter is lossless (no false negatives structurally; false
    positives die in the exact join).  The bitmap is AUTO-SIZED
    (round 9) from the counted benchmark gram set for a 1% FP target
    — never statically sized, so it cannot silently saturate as the
    benchmark grows.  The prefilter's value is the regime where the
    benchmark gram set outgrows broadcast: the bitmap stays
    words-bounded regardless, so corpus grams prune against a
    broadcast BEFORE any gram string reaches the exact join's
    shuffle."""
    def build():
        docs = load_table(spark, sf_dir, "documents")
        return CN.ngram_overlap_prefiltered(
            corpus=docs.filter(F.col("source") != "src0"),
            benchmark=docs.filter(F.col("source") == "src0"),
            n=8,
        )

    # r14: built plan memoized (see _memo_plan) — construction re-paid
    # the bitmap sizing count plus the k-lookup plan build (~0.9 s)
    return _memo_plan(
        spark, sf_dir, "x_contamination_prefiltered", ["documents"], build
    )


@_register(
    "x_repetition_ratio",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= 3
             THEN [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                   for i in range(1, len(toks) - 1)]
             WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
             ELSE []::VARCHAR[] END) AS gr
      FROM t
    ), per AS (
      SELECT doc_id, gr, count(*) AS c FROM g GROUP BY doc_id, gr
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(max(c) AS BIGINT) AS max_gram_count,
           CAST(count(*) AS BIGINT) AS distinct_grams
    FROM per GROUP BY doc_id
    """,
)
def x_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal per document: total trigram
    occurrences, the most frequent trigram's count, and the distinct
    trigram count (the filter drops docs where max/total exceeds a
    threshold — emitted as exact integers so the ratio never crosses the
    engine boundary as a float). Computed as a PURE PROJECTION over each
    row's gram array (max multiplicity = longest equal-run of the sorted
    array): ZERO shuffles, where the grouped-explode formulation would
    shuffle every gram occurrence twice (plan-pinned)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.repetition_stats(docs, id_col="doc_id", text_col="text", k=3)


@_register(
    "x_adaptive_quality_filter",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {TX.quality_features_sql('text')['stopword_ratio']} AS r
      FROM documents
      WHERE text IS NOT NULL
    ), ranked AS (
      SELECT lang, r,
             row_number() OVER (PARTITION BY lang ORDER BY r, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM scored
    ), thr AS (
      SELECT lang, max(CASE WHEN rn = (1 * n + 3) // 4 THEN r END) AS p25
      FROM ranked GROUP BY lang
    )
    SELECT s.lang,
           CAST(count(*) AS BIGINT) AS total_docs,
           CAST(count(*) FILTER (WHERE s.r >= t.p25) AS BIGINT) AS kept_docs,
           max(t.p25) AS threshold
    FROM scored s JOIN thr t ON s.lang = t.lang
    GROUP BY s.lang
    """,
)
def x_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gating: instead of a global constant threshold
    (x_quality_filter_agg), each language keeps documents at or above
    its OWN 25th-percentile stopword ratio — the per-stratum threshold
    pattern real pipelines use because quality-score distributions shift
    across languages. Composes exact_percentiles (one window+agg
    shuffle over (lang, score)) with a broadcast join of the 5-row
    threshold table back onto the scored scan; survivors aggregate per
    language in the same pass via conditional counts."""
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features("text")
    scored = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", feats["stopword_ratio"].alias("r")
    )
    thr = AN.exact_percentiles(
        scored, key="lang", value_col="r", tiebreak="doc_id",
        percentiles={"p25": (1, 4)},
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.count(F.when(F.col("r") >= F.col("p25"), 1)).alias("kept_docs"),
            F.max("p25").alias("threshold"),
        )
    )


# ---------------------------------------------------------------------------
# Pipeline-operations extensions: one-pass table profiling and the
# corpus-mixture table (per-(source, lang) token shares).
# ---------------------------------------------------------------------------

from kafka_dead_letter_analyzer_spark.operators import profile as PR  # noqa: E402

_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@_register(
    "x_profile_events",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS "column",
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM events"""
        for c in _PROFILE_COLS
    ),
)
def x_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events table: per-column null and
    exact distinct counts, computed in ONE scan — Catalyst plans the six
    count(DISTINCT) aggregates with a single Expand and shuffles only
    combined partials (plan-pinned: one scan). The oracle recomputes
    each column independently; the engine's point is that it does NOT."""
    events = load_table(spark, sf_dir, "events")
    return PR.profile_table(events, _PROFILE_COLS)


@_register(
    "x_corpus_mix_table",
    f"""
    WITH per AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS tokens
      FROM documents
      GROUP BY source, lang
    )
    SELECT source, lang, docs, tokens,
           CAST(sum(tokens) OVER () AS BIGINT) AS total_tokens
    FROM per
    """,
)
def x_corpus_mix_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-mixture table driving training-mix reweighting: per
    (source, lang) document and token counts plus the corpus total on
    every row (mix share = tokens / total_tokens, computed downstream —
    only exact integers cross the engine boundary). The global total is
    a 1-row aggregate CROSS-JOIN-broadcast onto the per-group rollup —
    NOT an unpartitioned window, which would funnel every row through
    one task at scale."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", "lang", TX.token_count("text").alias("_tok"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("_tok").cast("bigint").alias("tokens"),
        )
    )
    total = per.agg(F.sum("tokens").cast("bigint").alias("total_tokens"))
    return per.crossJoin(F.broadcast(total))


# ---------------------------------------------------------------------------
# Event-sequence analytics: ordered funnels and cohort retention — the
# two classic event-table consumers downstream of the analyzer's stats.
# ---------------------------------------------------------------------------


@_register(
    "x_event_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(0 AS INTEGER) AS stage_idx,
           CAST((SELECT count(*) FROM v) AS BIGINT) AS users
    UNION ALL
    SELECT 'click', 1, CAST((SELECT count(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT 'purchase', 2, CAST((SELECT count(*) FROM p) AS BIGINT)
    """,
)
def x_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click -> purchase): a user
    advances a stage only with an event STRICTLY AFTER their previous
    stage's first event — the sequential-pattern class, built as
    filter-pushdown scans (each stage's type predicate reaches parquet)
    chained by equi-joins on user_id. Every shuffle in the chain keys on
    user_id, so the stage aggregations reuse one partitioning; per-stage
    state is one timestamp per user, never an event list (the
    collect_list-per-user formulation would OOM on power users at
    100 TB)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )

    def stage(source: DataFrame, etype: str, prev: DataFrame | None) -> DataFrame:
        s = source.filter(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") > F.col("t"))
        return s.groupBy("user_id").agg(F.min("ts").alias("t"))

    # v and c are each consumed twice (their own funnel count + the next
    # stage's join); without persist, DataFrame reuse re-derives the
    # whole subplan per union branch — SIX scans of the fact table
    # instead of three. The persisted frames are one (user_id, ts) row
    # per qualifying user (MEMORY_AND_DISK: spills rather than OOMs at
    # billion-user scale). They stay cached for the session — callers
    # running many queries per session (bench does) should
    # clearCache()/unpersist between queries; unpersisting HERE would
    # free them before the caller has collected the lazy result.
    v = cache_registry.track(stage(ev, "view", None).persist())
    c = cache_registry.track(stage(ev, "click", v.select("user_id", "t")).persist())
    p = stage(ev, "purchase", c.select("user_id", "t"))

    def level(df: DataFrame, name: str, idx: int) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(name).alias("stage"),
            F.lit(idx).cast("int").alias("stage_idx"),
            F.col("users"),
        )

    return level(v, "view", 0).unionAll(level(c, "click", 1)).unionAll(
        level(p, "purchase", 2)
    )


@_register(
    "x_retention_cohorts",
    """
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    )
    SELECT CAST(datediff('day', f.d0, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
    FROM events e JOIN first f ON f.user_id = e.user_id
    GROUP BY day_offset
    """,
)
def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: distinct users active N days after their own
    first day. First-day per user is one user-keyed aggregation; the
    events join back on the SAME key (partitioning reused, no extra
    exchange on the fact side), then the distinct count groups by offset.
    The (cohort x offset) matrix variant is the same plan with cohort in
    the final key; the flat offset curve keeps the declared result
    small."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    return (
        ev.join(first, "user_id")
        .select(
            F.datediff(F.to_date("ts"), F.col("d0"))
            .cast("bigint")
            .alias("day_offset"),
            "user_id",
        )
        .groupBy("day_offset")
        .agg(F.count_distinct("user_id").alias("users"))
    )


@_register(
    "x_best_per_fingerprint",
    f"""
    SELECT fingerprint,
           CAST(doc_id AS BIGINT) AS kept_doc_id,
           CAST(n AS BIGINT) AS n_copies,
           CAST(n_chars AS BIGINT) AS kept_n_chars
    FROM (
      SELECT {TX.fingerprint_sql('text')} AS fingerprint,
             doc_id, n_chars,
             count(*) OVER (PARTITION BY {TX.fingerprint_sql('text')}) AS n,
             row_number() OVER (
               PARTITION BY {TX.fingerprint_sql('text')}
               ORDER BY n_chars DESC, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def x_best_per_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY instead of min-id: per content
    fingerprint keep the longest document (doc_id as tiebreak) — the
    dedup policy real corpora use when near-duplicate variants differ in
    completeness. One shuffle via max_by over the ordering struct
    (n_chars, -doc_id): fully partial-aggregable, unlike the
    row_number-window formulation the oracle uses, which would sort
    every partition."""
    docs = load_table(spark, sf_dir, "documents")
    ordkey = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_negid"))
    return (
        docs.select(
            TX.fingerprint("text").alias("fingerprint"),
            "doc_id",
            "n_chars",
            ordkey.alias("_ord"),
        )
        .groupBy("fingerprint")
        .agg(
            F.max_by("doc_id", "_ord").cast("bigint").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.max_by("n_chars", "_ord").cast("bigint").alias("kept_n_chars"),
        )
    )


@_register(
    "x_sufficient_stats",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_xx
    FROM (
      SELECT lang,
             CAST(n_chars AS BIGINT) AS x,
             CAST(len(regexp_extract_all(lower(text),
                  '\\b(the|and|of|to|in|is|der|die|und|le|la|les|el|los)\\b'))
                  AS BIGINT) AS y
      FROM documents
    )
    GROUP BY lang
    """,
)
def x_sufficient_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sufficient statistics for a per-language least-squares fit
    of stopword count on document length: (n, Σx, Σy, Σxy, Σx²) as
    BIGINTs — slope and intercept derive on the driver in O(groups).
    The distributed-ML aggregation pattern: ship five integers per
    group, never rows, and the fit is exact, associative, and
    engine-portable (a float covariance accumulation would be
    order-dependent). One partial-agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    y = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(TX.ANY_STOPWORD_RE), F.lit(0)
        )
    ).cast("bigint")
    base = docs.select(
        "lang", F.col("n_chars").cast("bigint").alias("x"), y.alias("y")
    )
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_xx"),
    )


from kafka_dead_letter_analyzer_spark.operators import fuzzy as FZ  # noqa: E402


@_register(
    "x_typo_pairs",
    r"""
    WITH vocab AS (
      SELECT DISTINCT unnest(
        CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS tok
      FROM documents
    ), v AS (SELECT tok FROM vocab WHERE tok <> '')
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist
    FROM v a, v b
    WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2
    """,
)
def x_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary typo/near-key pairs within Levenshtein distance 2 via
    SymSpell deletion-neighborhood blocking (operators/fuzzy.py) — the
    entity-resolution primitive. The ORACLE is the independent O(n²)
    all-pairs formulation; the engine's blocking join must reproduce it
    exactly, which pins both the neighborhood property (complete recall
    at distance <= k) and the levenshtein verify. At corpus scale the
    variant equi-join replaces the quadratic comparison; the oracle side
    is only viable because the gate vocabulary is small."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(D._tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    return FZ.fuzzy_key_pairs(vocab, key_col="tok", max_distance=2)


@_register(
    "x_cooccurrence",
    r"""
    WITH t AS (
      SELECT CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), pairs AS (
      SELECT unnest(flatten([
               [{'c': toks[i], 'x': toks[i + o]}
                for o in [-2, -1, 1, 2]
                if i + o >= 1 AND i + o <= len(toks)]
               for i in range(1, len(toks) + 1)])) AS p
      FROM t WHERE len(toks) >= 1
    )
    SELECT p.c AS center, p.x AS context, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2
    """,
)
def x_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence matrix (±2 window) over the corpus — the
    GloVe/PPMI embedding-training input and the collocation-mining
    table. Pair fan-out is a per-row JVM expression; the single shuffle
    is the (center, context) count with map-side combining (at most
    |vocab|² combined rows per task). Exact integer counts; the oracle
    reproduces the windowing with DuckDB list comprehensions."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.cooccurrence_counts(docs, text_col="text", window=2)


# ---------------------------------------------------------------------------
# Round-3 session-2 additions: returned-item revenue (TPC-H Q10 shape),
# weight-proportional deterministic sampling, join-key skew profiling,
# per-group distinctive terms (integer TF-IDF stand-in).
# ---------------------------------------------------------------------------


@_register(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
                    * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
           CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue_e4 DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by revenue lost to returns in a
    quarter. Join pipeline exercises the fact-fact-dim chain: lineitem
    is pre-filtered to returns AT THE SCAN (predicate pushdown), orders
    to the date window likewise, so the l⋈o shuffle carries only the
    surviving slice; nation is broadcast; the top-20 is
    TakeOrderedAndProject (no global sort materialization). Money is
    BIGINT e4/cents per house determinism rules."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    revenue_e4 = ((price * (1 - disc)).cast("decimal(30,4)") * 10000).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(revenue_e4).cast("bigint").alias("revenue_e4"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue_e4",
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("acctbal_cents"),
        )
        .orderBy(F.col("revenue_e4").desc(), F.col("c_custkey"))
        .limit(20)
    )


# weight-proportional sampling: p(keep) = min(1, n_chars * rate_per_unit),
# decided by md5(doc_id) — the corpus-mixture primitive for length-
# proportional document selection. 0.002/char means a 500-char doc keeps
# with p=1 (the cap path is exercised by every doc >= 500 chars).
_W_RATE_PER_UNIT = 0.002
_W_PER_UNIT = int(_W_RATE_PER_UNIT * (1 << 32))


@_register(
    "x_weighted_sample",
    f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             list_sum([(strpos('0123456789abcdef',
                               md5(CAST(doc_id AS VARCHAR))[i]) - 1)
                       * ([{_HEX8_POWS}][i])::BIGINT
                       for i in range(1, 9)]) AS h
      FROM documents
    ) WHERE n_chars IS NOT NULL
        AND h < least(4294967296, n_chars * {_W_PER_UNIT})
    """,
)
def x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sample: inclusion
    probability proportional to document length, capped at 1. Same
    filter-only / zero-shuffle plan as x_hash_sample — the threshold is
    a per-row integer expression, so the sample is a pure function of
    (doc_id, n_chars): reproducible under any partitioning or engine
    (oracle recomputes the identical md5-u32 draw and integer
    threshold)."""
    return SA.weighted_bernoulli_sample(
        load_table(spark, sf_dir, "documents"),
        key="doc_id",
        weight_col="n_chars",
        rate_per_unit=_W_RATE_PER_UNIT,
    ).select("doc_id", "lang", "n_chars")


@_register(
    "x_key_skew",
    """
    WITH counts AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), hist AS (
      SELECT cnt, CAST(count(*) AS BIGINT) AS keys FROM counts GROUP BY cnt
    ), cum AS (
      SELECT cnt, keys,
             sum(keys) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum_keys
      FROM hist
    ), tot AS (
      SELECT CAST(sum(keys) AS BIGINT) AS distinct_keys,
             CAST(sum(cnt * keys) AS BIGINT) AS total_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM hist
    )
    SELECT t.distinct_keys, t.total_rows, t.max_cnt,
           CAST(min(CASE WHEN c.cum_keys >= (1 * t.distinct_keys + 1) // 2
                         THEN c.cnt END) AS BIGINT) AS p50_cnt,
           CAST(min(CASE WHEN c.cum_keys >= (9 * t.distinct_keys + 9) // 10
                         THEN c.cnt END) AS BIGINT) AS p90_cnt,
           CAST(min(CASE WHEN c.cum_keys >= (99 * t.distinct_keys + 99) // 100
                         THEN c.cnt END) AS BIGINT) AS p99_cnt,
           CAST(CAST(t.max_cnt AS HUGEINT) * t.distinct_keys * 1000000
                // t.total_rows AS BIGINT) AS skew_ratio_ppm
    FROM cum c CROSS JOIN tot t
    GROUP BY 1, 2, 3
    """,
)
def x_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for events.user_id: the pre-shuffle
    audit that decides plain hash join vs salting vs AQE skew hints.
    Percentiles of the per-key count come from a count-of-counts
    HISTOGRAM contraction (|distinct count values| rows), never from
    sorting the per-key table — the design that survives 1e9 keys
    (operators/profile.py::key_skew_profile)."""
    events = load_table(spark, sf_dir, "events")
    return PR.key_skew_profile(events.select("user_id"), key="user_id")


@_register(
    "x_distinctive_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
      WHERE trim(lower(coalesce(text, ''))) != ''
    ), dt AS (
      SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS c
      FROM toks WHERE term != '' GROUP BY 1, 2, 3
    ), tf AS (
      SELECT lang, term, CAST(sum(c) AS BIGINT) AS tf FROM dt GROUP BY 1, 2
    ), dfx AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1
    )
    SELECT lang, term, tf, df,
           CAST(tf * 1000000 // df AS BIGINT) AS score,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY tf * 1000000 // df DESC, term)
                AS INTEGER) AS rnk
    FROM tf JOIN dfx USING (term)
    QUALIFY rnk <= 5
    """,
)
def x_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive vocabulary: top-5 terms by the integer
    TF-IDF stand-in score = tf * 1e6 div df (frequent in the language,
    rare across the corpus) — log-free so the ranking is bit-identical
    on any engine. One token scan feeds a (doc, lang, term) contraction;
    tf and df are second-level reductions over that contraction
    (operators/text.py::distinctive_terms)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.distinctive_terms(docs, group_col="lang", k=5)


# corpus-mixture rates by language: en downsampled, zh kept whole, es
# falls through to the default rate (exercises the fallback branch)
_MIX_RATES = {"en": 0.5, "zh": 1.0, "de": 0.25, "fr": 0.1}
_MIX_DEFAULT = 0.05
_MIX_CASE = " ".join(
    f"WHEN '{comp}' THEN {int(rate * (1 << 32))}"
    for comp, rate in sorted(_MIX_RATES.items())
)


@_register(
    "x_mixture_sample",
    f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             list_sum([(strpos('0123456789abcdef',
                               md5(CAST(doc_id AS VARCHAR))[i]) - 1)
                       * ([{_HEX8_POWS}][i])::BIGINT
                       for i in range(1, 9)]) AS h
      FROM documents
    ) WHERE h < CASE lang {_MIX_CASE}
                ELSE {int(_MIX_DEFAULT * (1 << 32))} END
    """,
)
def x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component corpus-mixture sampling: each language kept at its
    configured mixture rate (en 50%, zh 100%, de 25%, fr 10%, everything
    else the 5% default) — the reweighting pass of a pre-training data
    build. The rate lookup is a literal codegen'd CASE on the mixture
    column; the keep decision is the same md5-u32 draw as the other
    samplers, so the plan stays filter-only (zero Exchange, text column
    never read) and the composed mixture is reproducible anywhere."""
    return SA.mixture_sample(
        load_table(spark, sf_dir, "documents"),
        key="doc_id",
        mix_col="lang",
        rates=_MIX_RATES,
        default_rate=_MIX_DEFAULT,
    ).select("doc_id", "lang", "source")


_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_HI1 = int(0.8 * (1 << 32))
_SPLIT_HI2 = _SPLIT_HI1 + int(0.1 * (1 << 32))


@_register(
    "x_hash_split",
    f"""
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM (
      SELECT lang, doc_id,
             CASE WHEN h < {_SPLIT_HI1} THEN 'train'
                  WHEN h < {_SPLIT_HI2} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, doc_id,
               list_sum([(strpos('0123456789abcdef',
                                 md5(CAST(doc_id AS VARCHAR) || ':split')[i]) - 1)
                         * ([{_HEX8_POWS}][i])::BIGINT
                         for i in range(1, 9)]) AS h
        FROM documents
      )
    )
    GROUP BY split, lang
    """,
)
def x_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by a SALTED key
    hash, rolled up per (split, lang). The salt decorrelates the split
    from every sampling decision made with the bare key hash — the
    eval-set-leakage bug class; assignment is a pure projection, so a
    row's split never changes as the corpus grows. min(doc_id) pins
    membership, not just counts, in the oracle check."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        SA.hash_split(docs, key="doc_id", fractions=_SPLIT_FRACS)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
    )


@_register(
    "x_embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS scale
      FROM embeddings
    )
    SELECT vec_id,
           unnest([{'pos': CAST(i AS BIGINT),
                    'q': CASE WHEN scale = 0 THEN 0
                              ELSE CAST(floor(CAST(embedding[i] AS DOUBLE)
                                              * 127 / scale) AS BIGINT) END}
                   for i in range(1, len(embedding) + 1)],
                  recursive := true)
    FROM s
    """,
)
def x_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding table (per-vector
    max-abs scale, floor-quantized to [-127, 127]) — the 4x compression
    pass before ANN index construction. Pure per-row array expression,
    no UDF/shuffle; every surfaced value is integer (floor, not round:
    round-half rules differ across engines, floor does not)."""
    embs = load_table(spark, sf_dir, "embeddings")
    return S.quantize_embeddings(embs, levels=127)


@_register(
    "x_lm_continuation",
    r"""
    WITH t AS (
      SELECT CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), g AS (
      SELECT unnest([{'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]}
                     for i in range(1, len(toks) - 1)]) AS p
      FROM t WHERE len(toks) >= 3
    ), tri AS (
      SELECT p.w1, p.w2, p.w3, count(*) AS c FROM g GROUP BY 1, 2, 3
    )
    SELECT w2, w3,
           CAST(count(*) AS BIGINT) AS continuation_count,
           CAST(sum(c) AS BIGINT) AS total_count
    FROM tri GROUP BY w2, w3
    """,
)
def x_lm_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation counts per suffix bigram: distinct left
    contexts + total trigram occurrences — the LM-smoothing statistic a
    plain n-gram count table can't provide. One gram-stream shuffle into
    the distinct-trigram contraction; continuation falls out as count(*)
    of the contraction (no count-DISTINCT Expand)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.lm_continuation_counts(docs, n=3)


@_register(
    "x_cosine_topk_quantized",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS scale
      FROM embeddings
    ), qz AS (
      SELECT vec_id,
             [CASE WHEN scale = 0 THEN 0
                   ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127 / scale)
                        AS BIGINT) END
              for i in range(1, len(embedding) + 1)] AS qv
      FROM s
    ), q AS (SELECT qv AS qq FROM qz WHERE vec_id = 0)
    SELECT z.vec_id,
           CAST(list_sum([z.qv[i] * q.qq[i]
                          for i in range(1, len(z.qv) + 1)]) AS BIGINT) AS qdot
    FROM qz z, q
    ORDER BY qdot DESC, z.vec_id
    LIMIT 10
    """,
)
def x_cosine_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search in the QUANTIZED space: top-10 by int64 dot
    product of the int8-quantized vectors — the cheap scoring pass of a
    compressed ANN index (re-rank with floats downstream if needed).
    Integer-only scores, TakeOrderedAndProject plan like the float
    baseline; the 1-row query-vector collect is the bounded driver
    action the house rules allow."""
    embs = load_table(spark, sf_dir, "embeddings")
    [row] = embs.filter(F.col("vec_id") == 0).select("embedding").collect()
    return S.quantized_dot_topk(embs, list(row["embedding"]), k=10)


@_register(
    "x_corpus_shuffle",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle'), doc_id)
           AS BIGINT) AS global_idx
    FROM documents
    """,
)
def x_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: every document's 1-based
    position in the (md5, key) total order — the corpus shuffle before
    sequence packing / sharded export. The oracle is the single-task
    row_number formulation; the ENGINE plan is the distributed one
    (range partition + per-partition counts + offset-broadcast
    enumeration: operators/sampling.py::global_order_index), which is
    the whole point — same answer, no 100 TB single-partition sort."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.global_order_index(docs.select("doc_id"), key="doc_id").select(
        "doc_id", "global_idx"
    )


from kafka_dead_letter_analyzer_spark.operators import io as IO  # noqa: E402


@_register(
    "x_zorder_key",
    f"""
    SELECT event_id,
           {IO.zorder_sql('user_id', 'epoch_us(ts) // 60000000')} AS z
    FROM events
    """,
)
def x_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order key over (user_id, event minute) — the two-
    dimensional layout key: write_clustered on `z` makes parquet min/max
    stats prune scans filtering on EITHER dimension. Pure codegen'd bit
    arithmetic; integer-exact (oracle renders the identical mask/shift
    chain)."""
    events = load_table(spark, sf_dir, "events")
    minute = F.expr("unix_micros(ts) DIV 60000000")
    return events.select(
        "event_id", IO.zorder_value(F.col("user_id"), minute).alias("z")
    )


_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@_register(
    "x_chunk_overlap",
    rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
      WHERE trim(lower(coalesce(text, ''))) != ''
    )
    SELECT doc_id,
           unnest([{{'chunk_idx': CAST(i + 1 AS BIGINT),
                     'start_token': CAST(i * {_CHUNK_STRIDE} + 1 AS BIGINT),
                     'n_chunk_tokens': CAST(least({_CHUNK_TOKENS},
                         len(toks) - i * {_CHUNK_STRIDE}) AS BIGINT),
                     'chunk_text': array_to_string(
                       [toks[j] for j in range(i * {_CHUNK_STRIDE} + 1,
                          i * {_CHUNK_STRIDE} + least({_CHUNK_TOKENS},
                            len(toks) - i * {_CHUNK_STRIDE}) + 1)], ' ')}}
                   for i in range(0, (len(toks) - 1) // {_CHUNK_STRIDE} + 1)],
                  recursive := true)
    FROM t
    """,
)
def x_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (RAG/context-window prep): 32-token
    chunks every 24 tokens (8-token overlap), with 1-based chunk index,
    start position, token count, and the normalized chunk text. Pure
    per-row sequence+transform+explode — no shuffle, no UDF
    (operators/text.py::chunk_with_overlap)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.chunk_with_overlap(
        docs, chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_STRIDE
    )


@_register(
    "tpch_q14_promo_revenue",
    """
    SELECT
      CAST(sum(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
                    * 10000 AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_revenue_e4,
      CAST(sum(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
               * 10000 AS BIGINT)) AS BIGINT) AS total_revenue_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share for one month — a fact-
    dim join with a conditional aggregate. The date window pushes into
    the lineitem scan; the part dim is broadcast (only partkey + type
    read); promo share = promo/total computes downstream — only exact
    BIGINT e4 sums cross the engine boundary."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev_e4 = ((price * (1 - disc)).cast("decimal(30,4)") * 10000).cast("bigint")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0))
            ).cast("bigint").alias("promo_revenue_e4"),
            F.sum(rev_e4).cast("bigint").alias("total_revenue_e4"),
        )
    )


@_register(
    "tpch_q18_large_volume",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS total_qty_cents
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 30000
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           b.total_qty_cents
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY b.total_qty_cents DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — HAVING over the big fact
    aggregation, then the SURVIVORS (a tiny set) drive the joins back to
    orders/customer. The aggregate-then-filter contraction is what makes
    this scale: the order/customer joins see only qualifying orderkeys
    (broadcast-able), never the raw lineitem stream. Quantity is BIGINT
    cents; top-100 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_cents = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_cents).cast("bigint").alias("total_qty_cents"))
        .filter(F.col("total_qty_cents") > 30000)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty_cents",
        )
        .orderBy(F.col("total_qty_cents").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_HIST_WIDTH = 64


@_register(
    "x_length_histogram",
    f"""
    SELECT (n_chars // {_HIST_WIDTH}) * {_HIST_WIDTH} AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    WHERE n_chars IS NOT NULL
    GROUP BY 1
    """,
)
def x_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width document-length histogram (bucket width 64 chars) with
    per-bucket extrema — the distribution profile behind length-filter
    thresholds. One partial-agg shuffle over integer bucket keys; the
    bucket function is integer division, identical on both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    bucket = (
        F.expr(f"n_chars DIV {_HIST_WIDTH}") * _HIST_WIDTH
    ).cast("bigint")
    return docs.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


from kafka_dead_letter_analyzer_spark.operators import bpe as BP  # noqa: E402


@_register(
    "x_bpe_top_pairs",
    r"""
    WITH t AS (
      SELECT CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), p AS (
      SELECT unnest([{'l': toks[i], 'r': toks[i+1]}
                     for i in range(1, len(toks))]) AS pr
      FROM t WHERE len(toks) >= 2
    ), c AS (
      SELECT pr.l AS "left", pr.r AS "right", CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    )
    SELECT "left", "right", n,
           CAST(row_number() OVER (ORDER BY n DESC, "left", "right")
                AS INTEGER) AS rnk
    FROM c
    QUALIFY rnk <= 20
    """,
)
def x_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training round, declared: corpus-wide adjacent-pair
    counts (the operators/bpe.py pair fan-out — one vectorized zip, one
    combiner-collapsed shuffle) ranked to the top-20 merge candidates
    with the trainer's exact count-then-lexicographic tie-break. Pins
    the trainer's distributed counting stage against an independent SQL
    formulation; the iterative rounds are covered by the Python-BPE
    differential tests."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    syms = docs.select(D._tokens(F.col("text")).alias("syms")).filter(
        F.size("syms") > 0
    )
    counts = BP.bpe_pair_counts(syms).select(
        "left", "right", F.col("n").cast("bigint").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("left"), F.col("right"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
    )


@_register(
    "x_posting_lists",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
      WHERE trim(lower(coalesce(text, ''))) != ''
    ), dt AS (
      SELECT DISTINCT term, doc_id FROM toks WHERE term != ''
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(
             (list(doc_id ORDER BY doc_id))[1:20], ',') AS postings_head
    FROM dt
    GROUP BY term
    HAVING count(*) >= 3
    """,
)
def x_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (search/retrieval prep): per term,
    the document frequency and the head of its sorted posting list
    (first 20 doc ids, comma-joined — a STRING so the driver hash stays
    type-simple; real exports keep the array). df >= 3 is the index
    stop-gap against hapax bloat. One distinct-(term, doc) contraction,
    then collect_list aggregated per term — sort_array makes the
    posting order deterministic under any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    # no CPU spread: plain tokenization is too cheap per row to pay for
    # the round-robin Exchange (measured 0.42 -> 0.67 s spread at sf0.1)
    dt = (
        docs.filter(F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
        .select(
            "doc_id", F.explode(D._tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    return (
        dt.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 3)
    )


@_register(
    "x_source_overlap_matrix",
    f"""
    WITH {_SHINGLE8_CTES},
    sg AS (SELECT DISTINCT source, sh FROM s8)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS shared_grams
    FROM sg a JOIN sg b USING (sh)
    WHERE a.source < b.source
    GROUP BY 1, 2
    """,
)
def x_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    distinct 8-token grams they share — the "which crawls duplicate
    each other" audit that decides which sources to dedup against each
    other first. Gram semantics shared with the dedup/contamination
    family. Scale shape: the (source, gram) DISTINCT contraction
    shuffles once on the gram; the self-join joins the contraction with
    itself (equi-join on gram, no nested loop) and the pair rollup is
    |sources|^2-bounded — tiny. A df-cap on ubiquitous grams bounds the
    join fan-out at web scale (same lever as the inverted-index
    Jaccard)."""
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    docs = load_table(spark, sf_dir, "documents")
    nonblank = F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    # gram construction is CPU-per-row heavy: spread the narrow local scan
    # across cores first (no-op at real scale; 1.7x here)
    sg = (
        spread_for_cpu(docs.filter(nonblank))
        .select(
            "source", F.explode(D.token_shingles(F.col("text"), 8)).alias("sh")
        )
        .distinct()
    )
    a = sg.select(F.col("source").alias("src_a"), "sh")
    b = sg.select(F.col("source").alias("src_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )


@_register(
    "x_interevent_gaps",
    f"""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
             event_id
      FROM events
    ), v AS (SELECT event_type, gap_us, event_id FROM g WHERE gap_us IS NOT NULL)
    SELECT event_type,
           CAST(max(CASE WHEN rn = (1 * n + 1) // 2 THEN gap_us END) AS BIGINT) AS p50,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END) AS BIGINT) AS p90,
           CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_us END) AS BIGINT) AS p99
    FROM (
      SELECT event_type, gap_us,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
      WINDOW w AS (PARTITION BY event_type ORDER BY gap_us, event_id)
    )
    GROUP BY event_type
    """,
)
def x_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event time percentiles per event type: microsecond gaps
    between a user's consecutive events (the burstiness / arrival-rate
    profile), then exact nearest-rank p50/p90/p99 per type. Two
    partitionings by necessity — per-user ordering for the lag, per-type
    for the rank — each a single shared window Exchange; gaps are exact
    integer microseconds end to end."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
        "event_id",
    ).filter(F.col("gap_us").isNotNull())
    out = AN.exact_percentiles(
        gaps, key="event_type", value_col="gap_us", tiebreak="event_id"
    )
    return out.select(
        "event_type",
        F.col("p50").cast("bigint").alias("p50"),
        F.col("p90").cast("bigint").alias("p90"),
        F.col("p99").cast("bigint").alias("p99"),
    )


@_register(
    "x_media_dedup",
    """
    SELECT md5(text) AS payload_hash,
           CAST(min(doc_id) AS BIGINT) AS media_id,
           CAST(count(*) AS INTEGER) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def x_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level multimodal dedup: exact duplicate detection on the
    BINARY payload column (md5 over raw bytes — no decode needed, so it
    works for any modality), keeping the lowest id as canonical. The
    engine path really hashes binary (documents_as_media's payload);
    the oracle hashes the identical bytes through their utf8 text
    source. Same one-shuffle groupBy contraction as text dedup."""
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    return (
        media.groupBy(F.md5(F.col("payload")).alias("payload_hash"))
        .agg(
            F.min("media_id").cast("bigint").alias("media_id"),
            F.count(F.lit(1)).cast("int").alias("n_copies"),
        )
    )


# Synthetic deterministic 18x16 grayscale test images for the
# perceptual-hash pipeline: cluster base pattern (a wrapped linear
# gradient per doc_id % 101) + one perturbed 2x2 block per doc — docs
# sharing a cluster are near-identical images (<= 2 flipped gradient
# signs each vs the base), distinct clusters are unrelated.  The
# formula is pure integer arithmetic, so the ORACLE rebuilds the
# pixels directly while the ENGINE round-trips them through real PNG
# bytes (encode_gray_media -> png_grid_decoder) — the codec sits
# inside the hash gate.
_PHASH_W, _PHASH_H = 18, 16
_PHASH_PIXELS_EXPR = (
    f"transform(sequence(0, {_PHASH_W * _PHASH_H - 1}), k -> CAST(("
    " (doc_id % 101 + 1)"
    f"   * (3 * (k % {_PHASH_W}) + 5 * (k div {_PHASH_W}) + 7)"
    " + (doc_id % 101) * (doc_id % 101)"
    f" + IF((k div {_PHASH_W}) div 2 = ((doc_id * 37 + 11) % 72) div 9"
    f"      AND (k % {_PHASH_W}) div 2 = ((doc_id * 37 + 11) % 72) % 9,"
    "      97, 0)"
    ") % 251 AS INT))"
)

# oracle: same pixels -> 2x2 block-mean 8x9 grid -> dHash -> all-pairs
# Hamming (bit_count(xor)) <= 4; the engine's banded join has
# guaranteed recall at 5 bands, so its answer IS the all-pairs answer
_PHASH_CELL_SUM = " + ".join(
    "(((doc_id % 101 + 1)"
    f" * (3 * (2 * (j % 9) + {dx}) + 5 * (2 * (j // 9) + {dy}) + 7)"
    " + (doc_id % 101) * (doc_id % 101)"
    " + CASE WHEN j // 9 = ((doc_id * 37 + 11) % 72) // 9"
    "        AND j % 9 = ((doc_id * 37 + 11) % 72) % 9"
    "   THEN 97 ELSE 0 END) % 251)"
    for dy in (0, 1)
    for dx in (0, 1)
)
_PHASH_SQL = f"""
    WITH g AS (
      SELECT doc_id,
             [CAST(({_PHASH_CELL_SUM}) // 4 AS BIGINT)
              for j in range(0, 72)] AS grid
      FROM documents WHERE doc_id IS NOT NULL
    ), f AS (
      SELECT doc_id,
             list_sum([CASE WHEN grid[(k // 8) * 9 + (k % 8) + 1]
                               < grid[(k // 8) * 9 + (k % 8) + 2]
                            THEN ([{_BIT_POWS}][k + 1])::HUGEINT
                            ELSE 0::HUGEINT END
                       for k in range(0, 64)]) AS u
      FROM g
    ), s AS (
      SELECT doc_id,
             CAST(CASE WHEN u >= {2**63}::HUGEINT
                       THEN u - {2**64}::HUGEINT
                       ELSE u END AS BIGINT) AS sh
      FROM f
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      FROM s a, s b WHERE a.doc_id < b.doc_id
    ) WHERE hamming <= 4
    """


@_register("x_phash_near_dups", _PHASH_SQL)
def x_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (r12 verdict #4) — the
    multimodal surface's content dedup, schema to pairs: synthetic
    deterministic 18x16 grayscale images (one per document; same
    cluster = near-identical image) are encoded as REAL PNG bytes
    (multimodal.encode_gray_media, stdlib zlib), pixel-decoded by the
    REAL pure-Python PNG decoder (png_grid_decoder: chunk walk,
    inflate, full scanline unfilter), block-mean downsampled to the
    8x9 grid, dHashed to a signed int64 (multimodal.dhash64, pure JVM
    fold), and banded to Hamming <= 4 pairs through the shared
    pigeonhole machinery (dedup.hash64_hamming_pairs, 5 bands —
    guaranteed recall, so the banded answer IS the all-pairs answer
    the oracle computes).  The oracle rebuilds pixels -> grid -> hash
    -> pairs in pure integer SQL: any codec bug (filter math, luma,
    chunk walk) breaks the hash gate.

    Plan: one scan, two Arrow-batched maps (encode, decode — the
    genuinely non-columnar codec steps), then JVM-only hash fold +
    the banded self-join of a 16-byte/doc fingerprint frame
    (persisted; candidate shuffle is id+hash only, never payloads)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select(
            F.col("doc_id").alias("media_id"),
            F.expr(_PHASH_PIXELS_EXPR).alias("pixels"),
        )
    )
    media = MM.encode_gray_media(base, width=_PHASH_W, height=_PHASH_H)
    grid = MM.image_gray_grid(media, cols=9, rows=8)
    ph = grid.select("media_id", MM.dhash64("grid").alias("_sh"))
    return D.hash64_hamming_pairs(
        ph, id_col="media_id", hash_col="_sh", max_hamming=4
    )


_QUOTAS = {"en": 40, "zh": 15, "de": 10}
_QUOTA_DEFAULT = 5
_QUOTA_CASE = " ".join(
    f"WHEN '{s_}' THEN {q}" for s_, q in sorted(_QUOTAS.items())
)


@_register(
    "x_weighted_quota",
    f"""
    SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= CASE lang {_QUOTA_CASE} ELSE {_QUOTA_DEFAULT} END
    """,
)
def x_weighted_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-building quotas: a DIFFERENT deterministic sample size
    per language (en 40 / zh 15 / de 10 / default 5) in one rank
    window — the "n_k documents per component" corpus composition step.
    Same single-shuffle shape as the fixed-k quota; the per-row target
    is a literal CASE (operators/sampling.py::stratified_quota_weighted)."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.stratified_quota_weighted(
        docs.select("doc_id", "lang"),
        stratum="lang",
        key="doc_id",
        quotas=_QUOTAS,
        default_quota=_QUOTA_DEFAULT,
    ).select("doc_id", "lang", F.col("sample_rank").cast("int").alias("sample_rank"))


@_register(
    "x_dedup_chunks",
    rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents
      WHERE trim(lower(coalesce(text, ''))) != ''
    ), ch AS (
      SELECT doc_id,
             unnest([array_to_string(
                       [toks[j] for j in range(i * {_CHUNK_TOKENS} + 1,
                          i * {_CHUNK_TOKENS} + least({_CHUNK_TOKENS},
                            len(toks) - i * {_CHUNK_TOKENS}) + 1)], ' ')
                     for i in range(0, (len(toks) - 1) // {_CHUNK_TOKENS} + 1)])
               AS chunk_text
      FROM t
    )
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM ch
    GROUP BY 1
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def x_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: fixed 32-token NON-overlapping chunks
    (stride == chunk so a document never collides with itself by
    construction), hashed and grouped — the fine-grained boilerplate
    detector that document-level dedup misses (shared headers, license
    blocks, navigation chrome). Composition of the chunker and the
    fingerprint contraction: chunk fan-out is a pure projection; ONE
    shuffle groups chunk hashes; only cross-document repeats emitted."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = TX.chunk_with_overlap(
        docs, chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_TOKENS
    )
    return (
        chunks.groupBy(F.md5(F.col("chunk_text")).alias("chunk_hash"))
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@_register(
    "x_typo_clusters",
    r"""
    WITH RECURSIVE vocab AS (
      SELECT DISTINCT unnest(
        CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS tok
      FROM documents
    ), v AS (SELECT tok FROM vocab WHERE tok <> ''),
    p AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b
      FROM v a, v b
      WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2
    ), e AS (
      SELECT tok_a AS s, tok_b AS d FROM p
      UNION ALL
      SELECT tok_b AS s, tok_a AS d FROM p
    ), n AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM n
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    )
    SELECT id AS tok, min(lab) AS cluster FROM cc GROUP BY id
    """,
)
def x_typo_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary variant clusters: connected components over the
    Levenshtein<=2 typo graph (SymSpell-blocked pairs from
    x_typo_pairs) — groups a token with all its misspellings so a
    normalization pass can pick one canonical form per cluster. Second
    consumer of the generic CC contract (string node ids; min-label =
    lexicographic minimum). Oracle: recursive-CTE label propagation
    over the independently-computed all-pairs typo edges."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(D._tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    pairs = FZ.fuzzy_key_pairs(vocab, key_col="tok", max_distance=2).select(
        "tok_a", "tok_b"
    )
    return G.connected_components(pairs, src="tok_a", dst="tok_b").select(
        F.col("id").alias("tok"), F.col("component").alias("cluster")
    )


_TOKS_CTE = r"""t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    )"""


@_register(
    "x_rare_token_score",
    f"""
    WITH {_TOKS_CTE},
    dt AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY 1, 2
    ),
    freq AS (SELECT tok, CAST(sum(c) AS BIGINT) AS freq FROM dt GROUP BY 1),
    tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq)
    SELECT dt.doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(c * (total // freq)) AS BIGINT) AS rarity_score
    FROM dt JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY 1
    """,
)
def x_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted rarity score per document (integer surprisal
    proxy): each token occurrence contributes corpus_total DIV
    token_freq. The quality signal that separates rare-vocabulary docs
    from stopword soup without floats
    (operators/text.py::rare_token_scores)."""
    return TX.rare_token_scores(load_table(spark, sf_dir, "documents"))


@_register(
    "x_token_diversity",
    f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_distinct(toks)) * 1000000 // len(toks)
                          AS BIGINT) END AS diversity_ppm
    FROM t
    """,
)
def x_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-diversity ppm per doc — the cheap repetition signal; a
    zero-shuffle pure projection (array_distinct/size in codegen)
    (operators/text.py::token_diversity)."""
    return TX.token_diversity(load_table(spark, sf_dir, "documents"))


@_register(
    "x_prefix_clusters",
    f"""
    WITH {_TOKS_CTE}
    SELECT md5(array_to_string(toks[1:5], ' ')) AS prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS rep_doc_id
    FROM t WHERE len(toks) > 0
    GROUP BY 1 HAVING count(*) >= 2
    """,
)
def x_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix clusters: docs sharing their first 5 tokens
    (site headers / license banners / template intros), one partial-agg
    shuffle on a 32-char hash — prefix text never crosses the Exchange
    (operators/text.py::prefix_clusters)."""
    return TX.prefix_clusters(load_table(spark, sf_dir, "documents"))


@_register(
    "x_bigram_memorization",
    f"""
    WITH {_TOKS_CTE},
    db AS (
      SELECT DISTINCT doc_id, bg FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 2
                           THEN [toks[i] || ' ' || toks[i+1]
                                 for i in range(1, len(toks))]
                           ELSE []::VARCHAR[] END) AS bg
        FROM t)
    ),
    d AS (SELECT doc_id, bg, count(*) OVER (PARTITION BY bg) AS df FROM db)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS shared_ppm
    FROM d GROUP BY 1
    """,
)
def x_bigram_memorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk ppm per doc: share of its distinct bigrams seen
    in >= 2 docs. Bigram document-frequency comes from a WINDOW over the
    single (doc, bigram) contraction — one corpus scan (the
    x_distinctive_terms anti-duplication lesson)
    (operators/text.py::bigram_memorization_ppm)."""
    return TX.bigram_memorization_ppm(load_table(spark, sf_dir, "documents"))


@_register(
    "x_split_contamination",
    f"""
    WITH {_SHINGLE8_CTES},
    sp AS (
      SELECT doc_id,
             CASE WHEN h < {_SPLIT_HI1} THEN 'train'
                  WHEN h < {_SPLIT_HI2} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               list_sum([(strpos('0123456789abcdef',
                                 md5(CAST(doc_id AS VARCHAR) || ':split')[i]) - 1)
                         * ([{_HEX8_POWS}][i])::BIGINT
                         for i in range(1, 9)]) AS h
        FROM documents
      )
    ),
    train_grams AS (
      SELECT DISTINCT sh FROM s8 JOIN sp USING (doc_id)
      WHERE sp.split = 'train'
    ),
    eval_grams AS (
      SELECT s8.doc_id, sp.split, s8.sh FROM s8 JOIN sp USING (doc_id)
      WHERE sp.split <> 'train'
    )
    SELECT e.doc_id, e.split, CAST(count(*) AS BIGINT) AS shared_ngrams
    FROM eval_grams e JOIN train_grams t USING (sh)
    GROUP BY e.doc_id, e.split
    """,
)
def x_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set hygiene for the engine's OWN train/val/test split: every
    val/test document sharing an 8-token gram with any train document,
    with the shared-gram count — the leakage audit run before an eval
    set ships. Composition of hash_split and the decontamination gram
    machinery: train's distinct-gram set broadcasts into a map-side
    join against the (tiny) eval side's grams; the split assignment is
    the same salted pure projection everywhere."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import token_shingles
    from kafka_dead_letter_analyzer_spark.operators.io import spread_for_cpu

    docs = load_table(spark, sf_dir, "documents")
    # spread before shingling (CPU-heavy per row; no-op at scale — 2x here);
    # blank docs shed no grams either way, and split assignment is per-row
    # so the spread cannot change it
    split = SA.hash_split(
        spread_for_cpu(docs.select("doc_id", "text")), key="doc_id",
        fractions=_SPLIT_FRACS)
    grams = split.select(
        "doc_id", "split", F.explode(token_shingles(F.col("text"), 8)).alias("sh")
    )
    train = grams.filter(F.col("split") == "train").select("sh").distinct()
    ev = grams.filter(F.col("split") != "train")
    return (
        ev.join(F.broadcast(train), "sh")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_ngrams"))
    )


# ===========================================================================
# Round-4 TPC-H completion: every remaining query expressible over the
# driver's column subset (no partsupp table; no shipmode/commit/receipt
# columns -> Q2/Q9/Q11/Q12/Q16/Q20 out of scope, Q21 re-expressed on the
# return flag). With these the engine covers TPC-H
# {1,3,4,5,6,7,8,10,13,14,15,17,18,19,21,22} shapes.
# ===========================================================================

_REV_E4_SQL = (
    "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))"
    " * 10000 AS BIGINT)"
)


def _rev_e4() -> "F.Column":
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return ((price * (1 - disc)).cast("decimal(30,4)") * 10000).cast("bigint")


@_register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. Plan: the nation pair predicate lands on two BROADCAST dim
    joins (25-row nation twice under different aliases); lineitem is
    scan-filtered on the date window before the fact-fact shuffles; year
    extraction is codegen. The disjunctive nation-pair filter runs after
    both broadcasts — only rows in the two-nation corridor reach the
    final agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"))
    )


@_register(
    "tpch_q8_market_share",
    f"""
    WITH t AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
                           THEN {_REV_E4_SQL} ELSE 0 END) AS BIGINT) AS nation_rev_e4,
             CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
      GROUP BY 1
    )
    SELECT o_year, nation_rev_e4, total_rev_e4,
           CAST(CAST(nation_rev_e4 AS HUGEINT) * 1000000 // total_rev_e4
                AS BIGINT) AS share_ppm
    FROM t
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's ppm share of PROMO-part revenue sold
    into ASIA, by order year. One pass: the share is a conditional sum /
    total sum inside a single aggregation (no self-join), with integer
    DIV through a wide intermediate on both engines. Dims (nation x2,
    region, part-filter) all broadcast; facts shuffle once per join
    key."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select("n_nationkey", "n_regionkey")
    nation_rev = F.when(
        F.col("supp_nation") == "NATION_3", _rev_e4()
    ).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(nation_rev).cast("bigint").alias("nation_rev_e4"),
            F.sum(_rev_e4()).cast("bigint").alias("total_rev_e4"),
        )
        .select(
            "o_year",
            "nation_rev_e4",
            "total_rev_e4",
            F.expr(
                "CAST(CAST(nation_rev_e4 AS DECIMAL(38,0)) * 1000000"
                " DIV total_rev_e4 AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


@_register(
    "tpch_q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev_e4
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue.
    The revenue contraction is computed once and its 1-row max joins
    back BROADCAST (the q18 HAVING-contraction pattern) — no re-scan of
    lineitem for the subquery, no window over the full contraction. Ties
    all surface (WHERE = max), ordered by supplier key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    # persist the contraction: it feeds both the join left side and the
    # max subquery — unpersisted, Catalyst duplicates the subtree and
    # scans lineitem twice (same persisted-base pattern as the minhash
    # signatures; |suppliers| rows, spill-safe)
    rev = cache_registry.track(
        li.groupBy("l_suppkey").agg(
            F.sum(_rev_e4()).cast("bigint").alias("total_rev_e4")
        ).persist()
    )
    mx = rev.agg(F.max("total_rev_e4").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev_e4 == F.col("_mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


@_register(
    "tpch_q19_disjunctive_filter",
    f"""
    SELECT CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. The
    single-side conjuncts are derivable: Catalyst infers
    quantity<=30 / brand IN (...) prefilters and pushes them INTO each
    scan (pinned in test_plan_shapes), so the join sees only the union
    envelope; the exact disjunction applies post-join. Part side
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 50)
           & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@_register(
    "tpch_q21_blamed_suppliers",
    """
    WITH multi AS (
      SELECT l_orderkey FROM lineitem GROUP BY 1
      HAVING count(DISTINCT l_suppkey) >= 2
    ),
    ret AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_returnflag = 'R'
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM ret r1
    JOIN multi m ON m.l_orderkey = r1.l_orderkey
    JOIN supplier s ON s.s_suppkey = r1.l_suppkey
    WHERE NOT EXISTS (
      SELECT 1 FROM ret r2
      WHERE r2.l_orderkey = r1.l_orderkey AND r2.l_suppkey <> r1.l_suppkey
    )
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_blamed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape re-expressed on the return flag (the driver's
    lineitem has no commit/receipt dates): suppliers who were the SOLE
    returned-from supplier on multi-supplier orders — exists(another
    supplier) + not-exists(another returned supplier), the classic
    semi+anti join pair. Plan: the per-order supplier-distinct
    contraction computes both the multi-supplier set and the
    sole-returner property in ONE pass (count + returned-count per
    order), replacing the correlated subqueries — no per-row probes, two
    hash shuffles total."""
    li = load_table(spark, sf_dir, "lineitem")
    # persisted: the (order, supplier) contraction feeds both the blamed
    # filter and the per-order rollup — without it the lineitem scan and
    # first aggregation run twice
    per = (
        li.select(
            "l_orderkey", "l_suppkey",
            (F.col("l_returnflag") == "R").alias("ret"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("ret").alias("ret"))
        .persist()
    )
    cache_registry.track(per)
    per_order = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("ret").cast("int")).alias("n_ret"),
    )
    blamed = (
        per.filter(F.col("ret"))
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_ret") == 1)
            ),
            "l_orderkey",
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@_register(
    "tpch_q22_dormant_customers",
    """
    WITH sel AS (
      SELECT c_custkey, c_nationkey % 10 AS cntrycode,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM customer WHERE c_nationkey % 10 IN (0, 1, 2, 3, 4)
    ),
    thresh AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM sel WHERE cents > 0
    ),
    dormant AS (
      SELECT s.* FROM sel s
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = s.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    )
    SELECT d.cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(d.cents) AS BIGINT) AS totacctbal_cents
    FROM dormant d CROSS JOIN thresh t
    WHERE CAST(d.cents AS HUGEINT) * t.n_pos > t.sum_cents
    GROUP BY 1
    """,
)
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape adapted to the driver's columns (country code =
    nationkey mod 10; "no recent orders" replaces "no orders" since the
    synthetic data has none of the latter): wealthy-but-dormant
    customers per country code. The above-average test is integer-exact
    via cross-multiplication (cents * n_pos > sum_cents) — no float avg
    crosses engines; the 1-row threshold broadcasts; the anti-join
    against recent orders is a left_anti hash join (no correlated
    probe)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    sel = c.filter((F.col("c_nationkey") % 10).isin(0, 1, 2, 3, 4)).select(
        "c_custkey",
        (F.col("c_nationkey") % 10).alias("cntrycode"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    thresh = sel.filter(F.col("cents") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    dormant = sel.join(
        o.select("o_custkey"),
        sel.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        dormant.crossJoin(F.broadcast(thresh))
        .filter(
            F.expr("CAST(cents AS DECIMAL(38,0)) * n_pos > sum_cents")
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum("cents").cast("bigint").alias("totacctbal_cents"),
        )
    )


# ===========================================================================
# Round-4 analytics batch 2: robust (trimmed) stats, Markov transitions,
# SCD2 state history, sharded-export manifest.
# ===========================================================================


@_register(
    "x_trimmed_stats",
    """
    WITH r AS (
      SELECT event_type,
             CAST(floor(value * 1000000) AS BIGINT) AS v,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type
                   ORDER BY CAST(floor(value * 1000000) AS BIGINT), event_id)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(v) AS BIGINT) AS sum_scaled,
           CAST(sum(v) // count(*) AS BIGINT) AS trimmed_mean_scaled,
           CAST(min(v) AS BIGINT) AS lo_scaled,
           CAST(max(v) AS BIGINT) AS hi_scaled
    FROM r
    WHERE rn >= (5 * n + 99) // 100 AND rn <= (95 * n) // 100
    GROUP BY 1
    """,
)
def x_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trimmed statistics (p5..p95 band) of `value` per event
    type — outlier-resistant mean for monitoring. Values are floored to
    integer micros BEFORE accumulation (double sums are order-dependent
    and banned); rank bounds are the nearest-rank integer arithmetic.
    One Exchange: the rank window and final groupBy share the
    event_type partitioning (operators/analytics.py::trimmed_stats)."""
    return AN.trimmed_stats(
        load_table(spark, sf_dir, "events").select(
            "event_type", "value", "event_id"
        ),
        key="event_type",
        value_col="value",
        tiebreak="event_id",
    )


@_register(
    "x_event_transitions",
    """
    SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT event_type AS from_state,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_state
      FROM events
    ) WHERE to_state IS NOT NULL
    GROUP BY 1, 2
    """,
)
def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences — the behavioral baseline an anomaly detector starts
    from (operators/temporal.py::event_transitions)."""
    return T.event_transitions(load_table(spark, sf_dir, "events"))


@_register(
    "x_scd2_history",
    f"""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM flagged
    )
    SELECT user_id, CAST(run AS INTEGER) AS run_idx,
           min(event_type) AS event_type,
           strftime(min(ts), '{TS_PATTERN_SQL}') AS valid_from_s,
           strftime(lead(min(ts)) OVER (PARTITION BY user_id ORDER BY run),
                    '{TS_PATTERN_SQL}') AS valid_to_s
    FROM runs GROUP BY user_id, run
    """,
)
def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity compaction of the per-user event-type change
    stream: consecutive equal states collapse into [valid_from,
    valid_to) intervals, NULL valid_to marks the current state — the
    change-log -> dimension-history materialization every warehouse
    needs (operators/temporal.py::state_history). Timestamps cross the
    oracle boundary as N3-formatted strings."""
    out = T.state_history(load_table(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        "run_idx",
        "event_type",
        format_timestamp(F.col("_from")).alias("valid_from_s"),
        format_timestamp(F.col("_to")).alias("valid_to_s"),
    )


@_register(
    "x_export_manifest",
    """
    WITH idx AS (
      SELECT doc_id, n_chars,
             CAST(row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle'), doc_id)
             AS BIGINT) AS global_idx
      FROM documents
    )
    SELECT CAST((global_idx - 1) // 1000 AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(global_idx) AS BIGINT) AS min_idx,
           CAST(max(global_idx) AS BIGINT) AS max_idx
    FROM idx GROUP BY 1
    """,
)
def x_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-export planning manifest: the shuffled corpus cut into
    1000-row files with per-file row/char totals — what a training-data
    export job writes next to its shards. Composes the DISTRIBUTED
    global order index (range partition + offset broadcast, no
    single-partition sort) with a file_id contraction; the oracle uses
    the single-task row_number formulation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    idx = SA.global_order_index(docs, key="doc_id")
    return (
        idx.select(
            F.expr("(global_idx - 1) DIV 1000").alias("file_id"),
            "n_chars",
            "global_idx",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("global_idx").cast("bigint").alias("min_idx"),
            F.max("global_idx").cast("bigint").alias("max_idx"),
        )
    )


@_register(
    "x_series_knn",
    """
    WITH cnt AS (
      SELECT user_id AS k, epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    norms AS (
      SELECT k, CAST(sum(c * c) AS BIGINT) AS n2 FROM cnt GROUP BY 1
    ),
    dots AS (
      SELECT a.k AS ka, b.k AS kb, CAST(sum(a.c * b.c) AS BIGINT) AS dot
      FROM cnt a JOIN cnt b USING (d)
      WHERE a.k <> b.k
      GROUP BY 1, 2
    ),
    paired AS (
      SELECT ka, kb, CAST(na.n2 + nb.n2 - 2 * dot AS BIGINT) AS dist2
      FROM dots
      JOIN norms na ON na.k = ka
      JOIN norms nb ON nb.k = kb
    )
    SELECT ka AS user_id, kb AS neighbor, dist2,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY ka ORDER BY dist2, kb
      ) AS rank FROM paired
    ) WHERE rank <= 3
    """,
)
def x_series_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over per-user daily activity
    series: top-3 nearest users by squared euclidean distance of daily
    event-count vectors, computed SPARSELY through a day-keyed inverted
    index (dist2 = n_u + n_v - 2*dot; the join carries (day, key,
    count) triples, never dense vectors) — all int64, bit-exact
    (operators/temporal.py::series_similarity_topk).

    r14: built plan memoized (see _memo_plan) — construction re-paid
    the operator's 3-long bounds probe per invocation."""
    return _memo_plan(
        spark,
        sf_dir,
        "x_series_knn",
        ["events"],
        lambda: T.series_similarity_topk(
            load_table(spark, sf_dir, "events")
        ),
    )


@_register(
    "x_incremental_neardup",
    f"""
    WITH {_MINHASH_CTES}
    SELECT new_id, corpus_id, jaccard FROM (
      SELECT b.doc_id AS new_id, a.doc_id AS corpus_id,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / greatest(len(a.sh) + len(b.sh)
                              - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
      FROM s a, s b
      WHERE a.doc_id < 400 AND b.doc_id >= 400
    ) WHERE jaccard >= 0.5
    """,
)
def x_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dup check: the NEW batch (doc_id >= 400)
    banded against the EXISTING corpus (doc_id < 400) — new-vs-corpus
    pairs only, never corpus x corpus, so per-batch cost tracks the
    batch (operators/dedup.py::dedup_near_minhash_incremental; at scale
    the corpus side is the persisted banded index written at ingest).
    Same exact-Jaccard verification and full-recall banding
    configuration as x_dedup_minhash, so the oracle is the exact
    cross-partition pair set."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_near_minhash_incremental(
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
        num_hashes=64,
        bands=32,
        threshold=0.5,
    )


@_register(
    "x_table_diff",
    """
    WITH snap_a AS (
      SELECT event_id, props AS payload FROM events WHERE event_id % 11 != 3
    ),
    snap_b AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN props || '!' ELSE props END
               AS payload
      FROM events WHERE event_id % 13 != 4
    )
    SELECT coalesce(a.event_id, b.event_id) AS event_id,
           CASE WHEN a.event_id IS NULL THEN 'added'
                WHEN b.event_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.event_id = b.event_id
    WHERE a.event_id IS NULL OR b.event_id IS NULL
       OR a.payload IS DISTINCT FROM b.payload
    """,
)
def x_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (data-versioning primitive): added / removed /
    changed rows between two table versions via ONE full-outer hash
    join on the key with a null-safe payload comparison — unchanged
    rows never leave the join. The audit every incremental-ingest
    pipeline runs before promoting a snapshot."""
    events = load_table(spark, sf_dir, "events")
    snap_a = events.filter(F.col("event_id") % 11 != 3).select(
        "event_id", F.col("props").alias("payload")
    )
    snap_b = events.filter(F.col("event_id") % 13 != 4).select(
        "event_id",
        F.when(
            F.col("event_type") == "error", F.concat(F.col("props"), F.lit("!"))
        )
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    a = snap_a.withColumnsRenamed({"event_id": "ida", "payload": "pa"})
    b = snap_b.withColumnsRenamed({"event_id": "idb", "payload": "pb"})
    joined = a.join(b, a.ida == b.idb, "full_outer")
    return joined.filter(
        F.col("ida").isNull()
        | F.col("idb").isNull()
        | ~F.col("pa").eqNullSafe(F.col("pb"))
    ).select(
        F.coalesce("ida", "idb").alias("event_id"),
        F.when(F.col("ida").isNull(), "added")
        .when(F.col("idb").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


@_register(
    "x_mixture_plan",
    f"""
    WITH per AS (
      SELECT source, CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ),
    weighted AS (
      SELECT source, tokens,
             CAST(CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS BIGINT) AS w
      FROM per
    ),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
             CAST(sum(w) AS BIGINT) AS total_w
      FROM weighted
    )
    SELECT source, tokens,
           CAST(tot.total_tokens // 2 * w // tot.total_w AS BIGINT)
             AS target_tokens,
           CAST(least(1000000,
                CAST(tot.total_tokens // 2 * w // tot.total_w AS HUGEINT)
                * 1000000 // greatest(tokens, 1)) AS BIGINT) AS rate_ppm,
           (tot.total_tokens // 2 * w // tot.total_w) > tokens AS deficit
    FROM weighted CROSS JOIN tot
    """,
)
def x_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: given per-source target weights
    (deterministic: source index mod 4 + 1) and a budget of half the
    corpus tokens, the per-source sampling rate in ppm — capped at
    certainty, with a deficit flag where a source cannot supply its
    target (the signal to upweight elsewhere or epoch-repeat). All
    integer DIV arithmetic; the 1-row totals broadcast. This is the
    planning step whose output feeds mixture_sample's per-component
    rates."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("tokens")
    )
    weighted = per.select(
        "source",
        "tokens",
        (F.expr("CAST(substr(source, 4) AS BIGINT) % 4 + 1"))
        .cast("bigint")
        .alias("w"),
    )
    tot = weighted.agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum("w").cast("bigint").alias("total_w"),
    )
    target = F.expr("total_tokens DIV 2 * w DIV total_w")
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            target.cast("bigint").alias("target_tokens"),
            F.expr(
                "CAST(least(1000000L, CAST(total_tokens DIV 2 * w DIV total_w"
                " AS DECIMAL(38,0)) * 1000000 DIV greatest(tokens, 1L))"
                " AS BIGINT)"
            ).alias("rate_ppm"),
            (target > F.col("tokens")).alias("deficit"),
        )
    )


@_register(
    "x_dup_weights",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    n AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM n
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS component FROM cc GROUP BY id),
    sized AS (
      SELECT doc_id, component,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize
      FROM comp
    )
    SELECT d.doc_id,
           CAST(coalesce(s.csize, 1) AS BIGINT) AS cluster_size,
           CAST(1000000 // coalesce(s.csize, 1) AS BIGINT) AS weight_ppm
    FROM documents d LEFT JOIN sized s USING (doc_id)
    """,
)
def x_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware loss weighting (the soft alternative to
    dropping near-dups): every document's training weight is 1e6 DIV
    its near-dup cluster size, so a 5-way duplicated page contributes
    one page's worth of gradient in total. Composition: minhash pairs
    -> connected components -> per-component size joined back to the
    FULL corpus (unclustered docs weigh 1e6). The id-only component
    table is the small side of the weight join at any scale."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_near_minhash(
        docs, num_hashes=64, bands=32, threshold=0.5, collapse_exact=True
    )
    comp = G.connected_components(pairs, src="id_a", dst="id_b")
    sized = comp.select(
        F.col("id").alias("doc_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("bigint")
        .alias("csize"),
    )
    return (
        docs.select("doc_id")
        .join(sized, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("csize", F.lit(1)).cast("bigint").alias("cluster_size"),
            F.expr("CAST(1000000 DIV coalesce(csize, 1) AS BIGINT)").alias(
                "weight_ppm"
            ),
        )
    )


@_register(
    "x_mixture_budget_sample",
    f"""
    WITH per AS (
      SELECT source,
             CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS avail,
             CAST(CASE WHEN CAST(substr(source, 4) AS BIGINT) = 0
                  THEN 100 ELSE 1 END AS BIGINT) AS w
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(avail) AS BIGINT) AS cap_tot,
             CAST(sum(w) AS BIGINT) AS w_tot,
             CAST(sum(avail) // 2 AS BIGINT) AS b
      FROM per
    ),
    -- closed-form water-filling: sorted by avail/w ascending (weights
    -- divide 100, so avail*100//w orders the ratios exactly), the
    -- saturated set is a PREFIX, and row k saturates iff its capacity
    -- is <= its proportional share of what remains after the earlier
    -- (smaller-ratio) rows took their full capacity — all integer
    -- cross-multiplications, the same fixed point the engine's
    -- exact-rational iterative solver converges to
    ordered AS (
      SELECT p.*, t.w_tot, t.b,
             CAST(coalesce(sum(p.w) OVER win, 0) AS BIGINT) AS w_before,
             CAST(coalesce(sum(p.avail) OVER win, 0) AS BIGINT)
               AS cap_before
      FROM per p CROSS JOIN tot t
      WINDOW win AS (ORDER BY p.avail * 100 // p.w, p.source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    cls AS (
      SELECT *,
             CAST(avail AS HUGEINT) * (w_tot - w_before)
               <= CAST(b - cap_before AS HUGEINT) * w AS sat
      FROM ordered
    ),
    fin AS (
      SELECT CAST(coalesce(sum(CASE WHEN sat THEN avail END), 0)
                  AS HUGEINT) AS cap_sat,
             CAST(coalesce(sum(CASE WHEN sat THEN w END), 0)
                  AS HUGEINT) AS w_sat
      FROM cls
    ),
    plan AS (
      SELECT c.source,
             CAST(c.avail AS BIGINT) AS available_tokens,
             CAST(CASE WHEN c.sat THEN CAST(c.avail AS HUGEINT)
                  ELSE CAST(c.b - f.cap_sat AS HUGEINT) * c.w
                       // (c.w_tot - f.w_sat)
                  END AS BIGINT) AS allocated_tokens,
             CAST(trunc(
               CASE WHEN c.sat THEN 4294967296.0
                    ELSE CAST(CAST(c.b - f.cap_sat AS HUGEINT) * c.w
                              AS DOUBLE)
                         / CAST(CAST(c.w_tot - f.w_sat AS HUGEINT)
                                * c.avail AS DOUBLE)
                         * 4294967296.0
               END) AS BIGINT) AS threshold_u32
      FROM cls c CROSS JOIN fin f
    ),
    keep AS (
      SELECT d.source,
             {TX.token_count_sql('text')} AS tks,
             list_sum([(strpos('0123456789abcdef',
                               md5(CAST(doc_id AS VARCHAR))[i]) - 1)
                       * ([{_HEX8_POWS}][i])::BIGINT
                       for i in range(1, 9)]) AS h
      FROM documents d
    ),
    acct AS (
      SELECT k.source,
             CAST(count(*) AS BIGINT) AS n_docs_kept,
             CAST(sum(k.tks) AS BIGINT) AS sampled_tokens
      FROM keep k JOIN plan p USING (source)
      WHERE k.h < p.threshold_u32
      GROUP BY 1
    )
    SELECT p.source, p.available_tokens, p.allocated_tokens,
           p.threshold_u32,
           CAST(coalesce(a.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
           CAST(coalesce(a.sampled_tokens, 0) AS BIGINT)
             AS sampled_tokens
    FROM plan p LEFT JOIN acct a USING (source)
    """,
)
def x_mixture_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture build END-TO-END (r12 verdict #3): per-
    source supply -> :func:`sampling.mixture_rates_for_budget` (the
    exact-rational water-filling solver; target weights 100 for src0,
    1 for everyone else — src0's share of the half-corpus budget
    vastly exceeds its supply, so the SATURATED branch and the
    redistribution rounds run on real data) -> :func:`mixture_sample`
    at the solved rates -> per-source sampled accounting vs the
    allocation.  Output all-integer: ``(source, available_tokens,
    allocated_tokens, threshold_u32, n_docs_kept, sampled_tokens)``
    — threshold_u32 is the EXACT md5 threshold mixture_sample
    codegens (``int(rate * 2**32)``), so the whole chain solver ->
    rate -> threshold -> kept set hash-gates end-to-end; the oracle
    reproduces the solver via the sorted-prefix closed form (the
    saturated set is a prefix of the capacity/weight order; pinned
    equivalent to the iterative solver by a hypothesis differential
    in tests/test_extensions.py).

    Plan: ONE scan for the per-source supply contraction (a bounded
    driver collect — components number thousands at most, the
    lsh_tune/driver-side-solver precedent), then mixture_sample's
    filter-only pass (codegen'd CASE thresholds, no rates join) +
    one per-source contraction, left-joined to the broadcast plan
    literals so zero-kept sources still report."""
    docs = load_table(spark, sf_dir, "documents")
    per = {
        r["source"]: int(r["tokens"])
        for r in docs.groupBy("source")
        .agg(
            F.sum(TX.token_count(F.col("text")))
            .cast("bigint")
            .alias("tokens")
        )
        .collect()
    }
    target = {
        s: 100 if int(s[3:]) == 0 else 1 for s in per
    }
    budget = sum(per.values()) // 2
    plan = SA.mixture_rates_for_budget(per, target, budget)
    rates, alloc = plan["rates"], plan["allocated"]
    plan_df = IO.local_relation_df(
        spark,
        [
            (
                s,
                per[s],
                alloc[s],
                int(rates[s] * (1 << 32)),
            )
            for s in sorted(per)
        ],
        "source string, available_tokens long, allocated_tokens long,"
        " threshold_u32 long",
    )
    acct = (
        SA.mixture_sample(
            docs,
            key="doc_id",
            mix_col="source",
            rates=rates,
            default_rate=0.0,
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
            F.sum(TX.token_count(F.col("text")))
            .cast("bigint")
            .alias("sampled_tokens"),
        )
    )
    return F.broadcast(plan_df).join(acct, "source", "left").select(
        "source",
        "available_tokens",
        "allocated_tokens",
        "threshold_u32",
        F.coalesce(F.col("n_docs_kept"), F.lit(0))
        .cast("bigint")
        .alias("n_docs_kept"),
        F.coalesce(F.col("sampled_tokens"), F.lit(0))
        .cast("bigint")
        .alias("sampled_tokens"),
    )


def _kmeans_int_sql(k: int = 4, iters: int = 2, scale: int = 1024, d: int = 64) -> str:
    """Unrolled relational Lloyd for the x_kmeans_int oracle: every
    iteration is one assignment (argmin by integer squared distance,
    ties to the lowest cluster) + one trunc-div recenter — the exact
    integer spec kmeans_fit_int implements, so the hash gate covers a
    full multi-round iterative algorithm."""
    parts = [f"""
    WITH iv AS (
      SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)
              for x in embedding] AS v
      FROM embeddings
    ),
    dims AS (SELECT UNNEST(range(1, {d + 1})) AS i),
    ex AS (SELECT vec_id, i, v[i] AS val FROM iv, dims),
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v
      FROM iv ORDER BY vec_id LIMIT {k}
    ),
    c0 AS (SELECT cluster, i, v[i] AS c FROM init, dims)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
    d{t} AS (
      SELECT ex.vec_id, c{t - 1}.cluster,
             SUM((ex.val - c{t - 1}.c) * (ex.val - c{t - 1}.c)) AS dist
      FROM ex JOIN c{t - 1} USING (i)
      GROUP BY 1, 2
    ),
    a{t} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    u{t} AS (
      SELECT a{t}.cluster, ex.i, SUM(ex.val) AS s, COUNT(*) AS n
      FROM a{t} JOIN ex USING (vec_id)
      GROUP BY 1, 2
    ),
    c{t} AS (
      SELECT c{t - 1}.cluster, c{t - 1}.i,
             COALESCE(CAST(u{t}.s // u{t}.n AS BIGINT), c{t - 1}.c) AS c
      FROM c{t - 1} LEFT JOIN u{t}
        ON u{t}.cluster = c{t - 1}.cluster AND u{t}.i = c{t - 1}.i
    )""")
    parts.append(f""",
    df AS (
      SELECT ex.vec_id, c{iters}.cluster,
             SUM((ex.val - c{iters}.c) * (ex.val - c{iters}.c)) AS dist
      FROM ex JOIN c{iters} USING (i)
      GROUP BY 1, 2
    ),
    af AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM df
      ) WHERE rn = 1
    ),
    cnt AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM af GROUP BY 1
    )
    SELECT c{iters}.cluster,
           CAST(c{iters}.i - 1 AS INT) AS dim,
           CAST(c{iters}.c AS BIGINT) AS centroid_c,
           COALESCE(cnt.n_members, CAST(0 AS BIGINT)) AS n_members
    FROM c{iters} LEFT JOIN cnt USING (cluster)""")
    return "".join(parts)


@_register("x_kmeans_int", _kmeans_int_sql())
def x_kmeans_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact distributed Lloyd k-means (k=4, 2 rounds, floored
    1024-scaled vectors, trunc-div centroids): the oracle-checkable
    surface for the engine's distributed clustering — the full quantized
    centroid matrix (k x 64 rows) plus final cluster cardinalities.
    Every iteration: broadcast centroid matmul assignment (vectors never
    shuffle) + a (cluster, dim) scalar contraction; the driver holds
    exactly k*d longs (operators/similarity.py::kmeans_fit_int)."""
    return S.kmeans_fit_int(load_table(spark, sf_dir, "embeddings"))


@_register(
    "x_typo_pairs_ed1",
    r"""
    WITH vocab AS (
      SELECT DISTINCT unnest(
        CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS tok
      FROM documents
    ), v AS (SELECT tok FROM vocab WHERE tok <> '')
    SELECT a.tok AS tok_a, b.tok AS tok_b,
           CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist
    FROM v a, v b
    WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1
    """,
)
def x_typo_pairs_ed1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy key join — the CHEAP blocking tier under
    the SymSpell family (x_typo_pairs is the <=2 path): each key
    explodes to only L+1 single-deletion variants instead of ~L^2/2,
    an order-of-magnitude smaller variant shuffle, and the levenshtein
    verify prunes the distance-2 collisions blocking admits. The right
    default at corpus scale when only immediate typos matter. Oracle =
    independent all-pairs levenshtein (operators/fuzzy.py)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(D._tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    return FZ.fuzzy_key_pairs(vocab, key_col="tok", max_distance=1)


@_register(
    "x_weighted_reservoir",
    f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             CAST(list_sum([(strpos('0123456789abcdef',
                               md5(CAST(doc_id AS VARCHAR) || ':wrs')[i]) - 1)
                       * ([{_HEX8_POWS}][i])::BIGINT
                       for i in range(1, 9)]) + 1 AS DOUBLE)
             / CAST(n_chars AS DOUBLE) AS p
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, lang, n_chars,
           CAST(row_number() OVER (ORDER BY p, doc_id) AS INTEGER) AS wrs_rank
    FROM pri ORDER BY p, doc_id LIMIT 100
    """,
)
def x_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement of exactly 100 documents,
    inclusion odds rising with length — sequential Poisson / priority
    sampling, the reservoir design whose selection is a pure function
    of the data: priority = (md5-u32 + 1) / weight with both operands
    exact integers, so the IEEE division (exact-rounded) is bit-equal
    on every engine — no log/pow, hash-green (the round-4 open item's
    integer-exact formulation). TakeOrderedAndProject plan: no corpus
    sort, each task ships only its local top-k
    (operators/sampling.py::weighted_reservoir_topk)."""
    return SA.weighted_reservoir_topk(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        ),
        key="doc_id",
        weight_col="n_chars",
        k=100,
    )


# ---------------------------------------------------------------------------
# TPC-H completion block — the six remaining query shapes (Q2, Q9, Q11,
# Q12, Q16, Q20) adapted to the driver's trimmed schema (no partsupp
# table, no commit/receipt dates, no ship mode; see tpch_q21/q22 for the
# adaptation precedent).  lineitem's (l_partkey, l_suppkey) pairs play
# the partsupp role; l_returnflag plays ship mode.  What each preserves
# is the reference SHAPE that stresses a distinct optimizer path:
# correlated-min decorrelation (Q2), multi-way star join with a derived
# grouping year (Q9), global-scalar HAVING (Q11), conditional two-way
# counts (Q12), distinct-agg with an anti-joined exclusion list (Q16),
# and a nested semi-join chain (Q20).
# ---------------------------------------------------------------------------


@_register(
    "tpch_q2_min_cost_supplier",
    """
    WITH offer AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(min(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cost_cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_regionkey = 3
      GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, CAST(min(cost_cents) AS BIGINT) AS min_cost_cents
      FROM offer GROUP BY 1
    )
    SELECT CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS s_acctbal_cents,
           s.s_name, n.n_name, p.p_partkey, p.p_type,
           o.cost_cents
    FROM offer o
    JOIN best b ON o.l_partkey = b.l_partkey
              AND o.cost_cents = b.min_cost_cents
    JOIN part p ON o.l_partkey = p.p_partkey
    JOIN supplier s ON o.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size = 11 AND n.n_regionkey = 3
    ORDER BY s_acctbal_cents DESC, n.n_name, s.s_name, p.p_partkey,
             o.l_suppkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part within a region — the
    correlated-MIN subquery, decorrelated the way every modern planner
    rewrites it: aggregate once per (part, supplier), then a per-part
    window MIN over THAT contraction selects the achieving suppliers
    (ties kept, as in the reference query) — one lineitem scan total,
    never a join back onto the same lineage (Spark resolves a
    same-lineage key equality trivially true — the classic self-join
    trap, pinned in test_plan_shapes.py).  lineitem's (l_partkey,
    l_suppkey) min sell price stands in for partsupp.ps_supplycost.
    Plan notes: the supplier->nation region filter is applied BEFORE the
    big aggregation so non-region rows never enter the shuffle; supplier
    and nation are broadcast; the window repartitions only the
    contraction; the part join broadcasts after the p_size prune.
    Money crosses the gate as BIGINT cents."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 3)
    region_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost_cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    offer = (
        li.select("l_partkey", "l_suppkey", cost_cents.alias("c"))
        .join(
            F.broadcast(region_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("c").cast("bigint").alias("cost_cents"))
    )
    # Decorrelate the per-part MIN as a window over the contraction —
    # NOT a self-join back onto `offer` (same-lineage joins resolve the
    # key equality trivially true; Spark's classic self-join trap). The
    # window repartitions only the (part, supplier) contraction.
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    cheapest = offer.withColumn(
        "min_cost_cents", F.min("cost_cents").over(w)
    ).filter(F.col("cost_cents") == F.col("min_cost_cents"))
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 11)
        .select("p_partkey", "p_type")
    )
    return (
        cheapest
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(region_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            (F.col("s_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("s_acctbal_cents"),
            "s_name", "n_name", "p_partkey", "p_type", "cost_cents",
            "l_suppkey",
        )
        .orderBy(
            F.col("s_acctbal_cents").desc(), "n_name", "s_name",
            "p_partkey", "l_suppkey",
        )
        .limit(100)
        .drop("l_suppkey")
    )


@_register(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum(
             CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(30,4)) * 10000 AS BIGINT)
             - CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
           ) AS BIGINT) AS profit_e4
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year.  Cost proxy: p_retailprice per unit stands in for
    partsupp.ps_supplycost (same join direction); cost_e4 =
    retail_cents * qty_cents — a product of two exact BIGINTs, never a
    3-way DECIMAL multiply (whose precision cap rounds differently per
    engine).  l_extendedprice is already qty-scaled in TPC-H, so the
    margin is comparably scaled.
    Plan notes: the p_name LIKE prune runs first and the surviving part
    keys broadcast into the lineitem scan, so the only big shuffle is
    lineitem><orders on orderkey; supplier and nation broadcast; the
    grouping key (nation, year) is tiny so the final agg is map-side
    heavy.  Profit crosses the gate as BIGINT e4 with per-row
    subtraction BEFORE the sum (identical associativity both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev_e4 = ((price * (1 - disc)).cast("decimal(30,4)") * 10000).cast("bigint")
    retail_cents = (
        F.col("p_retailprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    qty_cents = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    cost_e4 = retail_cents * qty_cents
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            (rev_e4 - cost_e4).alias("pr"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("pr").cast("bigint").alias("profit_e4"))
        .orderBy("nation", "o_year")
    )


@_register(
    "tpch_q11_important_parts",
    """
    WITH val AS (
      SELECT l.l_partkey,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey = 7
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM val
    )
    SELECT v.l_partkey, v.value_cents
    FROM val v CROSS JOIN tot t
    WHERE CAST(v.value_cents AS HUGEINT) * 1000 > t.total_cents
    ORDER BY v.value_cents DESC, v.l_partkey
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value from one nation's
    suppliers exceeds a FRACTION OF THE GLOBAL TOTAL — the
    scalar-subquery-in-HAVING shape.  lineitem revenue per part stands
    in for ps_supplycost*ps_availqty.  Plan notes: the nation's supplier
    keys broadcast into the lineitem scan (non-nation rows never
    shuffle); the global total derives from the per-part contraction
    (tiny) and broadcasts back as a 1-row cross join — Catalyst executes
    it as a BroadcastNestedLoopJoin over a single row, i.e. a runtime
    scalar, never a second lineitem scan.  The share test multiplies
    instead of dividing (integer-exact both engines; HUGEINT guard on
    the DuckDB side only, BIGINT range is ample on Spark's)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    val = (
        li.select("l_partkey", "l_suppkey", cents.alias("c"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("c").cast("bigint").alias("value_cents"))
    )
    tot = val.agg(F.sum("value_cents").cast("bigint").alias("total_cents"))
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("l_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "l_partkey")
    )


@_register(
    "tpch_q12_mode_priority",
    """
    SELECT l.l_returnflag AS ship_mode,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY 1
    ORDER BY 1
    """,
)
def tpch_q12_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts by ship mode split into high/low
    order priority — the two-way conditional count over a fact-fact
    join.  l_returnflag stands in for l_shipmode and "shipped after the
    order date" for the commit/receipt-date lateness predicate (those
    columns don't exist in the driver's lineitem).  Plan notes: the
    shipdate year prune pushes into the lineitem scan; the lateness
    predicate is a post-join filter (it references both sides); both
    conditional sums compute in ONE aggregate over the 3-value flag —
    map-side partials collapse to ≤3 rows per task before the final
    exchange."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.col("l_returnflag").alias("ship_mode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


@_register(
    "tpch_q16_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#2'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier
        WHERE CAST(s_acctbal AS DECIMAL(18,2)) < 0
      )
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide parts of
    each (brand, type, size), excluding a complaint list — the
    distinct-aggregate with an anti-joined NOT IN.  Negative account
    balance stands in for the 'Customer Complaints' comment scan.  Plan
    notes: all part predicates prune BEFORE the join and the surviving
    part dim broadcasts; the exclusion list is a broadcast ANTI join
    (NOT IN semantics are safe here — s_suppkey is non-null by
    construction); count(DISTINCT) goes through Spark's two-phase
    distinct-aggregate expansion, keyed on the same grouping columns, so
    the only wide shuffle carries (brand, type, size, suppkey) distinct
    pairs — far smaller than lineitem."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#2")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal").cast("decimal(18,2)") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad),
            li.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@_register(
    "tpch_q20_excess_shippers",
    """
    WITH shipped AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(sum(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
        AND l.l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
        )
      GROUP BY 1, 2
    )
    SELECT s.s_name,
           CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS s_acctbal_cents
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_regionkey = 2
      AND EXISTS (
        SELECT 1 FROM shipped sh
        WHERE sh.l_suppkey = s.s_suppkey AND sh.qty_cents > 2000
      )
    ORDER BY s.s_name
    """,
)
def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one region who shipped a LARGE
    quantity of any 'small%' part this year — the nested semi-join chain
    (part name subquery feeding a quantity-threshold subquery feeding a
    supplier semi join).  The shipped-quantity threshold stands in for
    the 50%-of-availqty partsupp predicate.  Plan notes: the part-name
    prune broadcasts into the lineitem scan alongside the pushed
    shipdate range; the (supp, part) aggregate contracts before the
    threshold filter; the supplier side consumes it as a broadcast SEMI
    join (distinct not needed — semi join deduplicates by contract);
    nation broadcasts.  Output is suppliers only — ORDER BY s_name is a
    unique total order."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qty_cents = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    heavy = (
        li.select("l_suppkey", "l_partkey", qty_cents.alias("q"))
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("q").cast("bigint").alias("qty_cents"))
        .filter(F.col("qty_cents") > 2000)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select("n_nationkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(heavy),
            s.s_suppkey == heavy.l_suppkey,
            "left_semi",
        )
        .select(
            "s_name",
            (F.col("s_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("s_acctbal_cents"),
        )
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Mergeable sketches (operators/sketches.py) — fixed-size distributed
# state for distinct-count and frequency at 100 TB.  The queries check
# the integer SKETCH STATE bit-for-bit (the mergeable artifact); the
# float estimators derived from it are property-tested in
# tests/test_sketches.py, outside the hash gate.
# ---------------------------------------------------------------------------

_HEX15_POWS = ", ".join(str(16 ** (15 - i)) for i in range(1, 16))


def _duck_u60(expr: str) -> str:
    """DuckDB reconstruction of operators/sketches.py::md5_u60 — the
    60-bit widening of the md5-u32 strpos-hex trick."""
    return (
        f"CAST(list_sum([(strpos('0123456789abcdef', md5({expr})[i]) - 1)"
        f" * ([{_HEX15_POWS}][i])::BIGINT for i in range(1, 16)]) AS BIGINT)"
    )


@_register(
    "x_kmv_distinct",
    f"""
    WITH h AS (
      SELECT DISTINCT {_duck_u60("CAST(user_id AS VARCHAR)")} AS h60
      FROM events
    ),
    topk AS (SELECT h60 FROM h ORDER BY h60 LIMIT 128)
    SELECT CAST(row_number() OVER (ORDER BY h60) AS BIGINT) AS rank, h60
    FROM topk
    """,
)
def x_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct sketch of the user population: the 128
    smallest distinct 60-bit hashes — the MERGEABLE distinct-count
    state (per-day sketches union + re-limit to the month's sketch; no
    re-scan).  At 100 TB the alternative — count(DISTINCT user_id) —
    shuffles one row per distinct user; this shuffles at most 128 rows
    per task (partial distinct + TakeOrdered).  The float estimator
    over the sketch is property-tested against the true count in
    tests/test_sketches.py (operators/sketches.py::kmv_estimate)."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    return SK.kmv_distinct_sketch(
        load_table(spark, sf_dir, "events").select("user_id"),
        key="user_id",
        k=128,
    )


@_register(
    "x_cms_sketch",
    f"""
    SELECT CAST(ds.d AS INT) AS d,
           CAST({_duck_u60("CAST(user_id AS VARCHAR) || '#' || CAST(ds.d AS VARCHAR)")}
                % 256 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events CROSS JOIN (SELECT unnest(range(4)) AS d) ds
    GROUP BY 1, 2
    """,
)
def x_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (depth 4 x width 256) of per-user event counts —
    the fixed-size frequency table: merge = cell-wise sum, point query =
    min over rows (always an over-estimate).  The depth replication is a
    literal-array explode (no join); partial aggregation bounds every
    task's shuffle output at depth*width counter rows no matter how many
    events it scanned — the property that makes frequency tracking
    viable on a trillion-row stream.  Point-query accuracy is
    property-tested in tests/test_sketches.py (cms_lookup >= truth;
    bounded overshoot)."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    return SK.cms_sketch(
        load_table(spark, sf_dir, "events").select("user_id"),
        key="user_id",
        depth=4,
        width=256,
    )


@_register(
    "x_hll_registers",
    f"""
    WITH h AS (
      SELECT {_duck_u60("CAST(user_id AS VARCHAR)")} AS h60 FROM events
    )
    SELECT CAST(h60 // 4503599627370496 AS INT) AS register,
           CAST(max(CASE WHEN h60 % 4503599627370496 = 0 THEN 53
                         ELSE 52 - length(bin(h60 % 4503599627370496)) + 1
                    END) AS INT) AS max_rho
    FROM h
    GROUP BY 1
    """,
)
def x_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register maxima (p=8, 256 registers) over the user
    population — the complete mergeable distinct-count state in <= 256
    (register, max_rho) rows; merge = cell-wise max.  The rho
    computation rides on ``length(bin(w))`` — both engines print binary
    without leading zeros, so MSB position needs no log2 (floats never
    enter the state).  2^52 = the 60-bit hash space over 2^8 registers.
    The harmonic-mean estimator over collected registers is
    property-tested in tests/test_sketches.py
    (operators/sketches.py::hll_estimate)."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    return SK.hll_register_maxima(
        load_table(spark, sf_dir, "events").select("user_id"), key="user_id", p=8
    )


@_register(
    "x_triangle_counts",
    r"""
    WITH t AS (
      SELECT CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), pairs AS (
      SELECT unnest(flatten([
               [{'c': toks[i], 'x': toks[i + o]}
                for o in [-2, -1, 1, 2]
                if i + o >= 1 AND i + o <= len(toks)]
               for i in range(1, len(toks) + 1)])) AS p
      FROM t WHERE len(toks) >= 1
    ), pc AS (
      SELECT p.c AS c, p.x AS x, count(*) AS n FROM pairs GROUP BY 1, 2
    ), edges AS (
      SELECT DISTINCT least(c, x) AS a, greatest(c, x) AS b
      FROM pc WHERE n >= 2 AND c <> x
    ), deg AS (
      SELECT nd, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS nd FROM edges UNION ALL SELECT b AS nd FROM edges)
      GROUP BY 1
    ), oriented AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN db.d ELSE da.d END AS dv
      FROM edges e
      JOIN deg da ON e.a = da.nd
      JOIN deg db ON e.b = db.nd
    ), wedges AS (
      SELECT o1.u AS wu, o1.v AS wv, o2.v AS ww
      FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u
      WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)
    ), tri AS (
      SELECT w.wu, w.wv, w.ww
      FROM wedges w JOIN oriented o ON w.wv = o.u AND w.ww = o.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT unnest([wu, wv, ww]) AS node FROM tri)
    GROUP BY 1
    """,
)
def x_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token triangle counts over the collocation graph (tokens
    co-occurring >= 2 times within a ±2 window) — the clustering-
    coefficient / community-density primitive.  Degree-ordered edge
    orientation (Suri & Vassilvitskii WWW'11) finds each triangle at its
    minimum-order corner exactly once, bounding a hub node's wedge
    fan-out at O(sqrt(|E|)) — the "curse of the last reducer" fix that
    makes triangle counting survive power-law graphs at 100 TB.  All
    integer/string-exact; the oracle unrolls the same orientation in
    SQL (operators/graph.py::triangle_counts)."""
    from kafka_dead_letter_analyzer_spark.operators import graph as GR

    def build():
        pc = TX.cooccurrence_counts(
            load_table(spark, sf_dir, "documents"), text_col="text",
            window=2,
        )
        edges = pc.filter(
            (F.col("n") >= 2) & (F.col("center") != F.col("context"))
        ).select(
            F.col("center").alias("id_a"), F.col("context").alias("id_b")
        )
        return GR.triangle_counts(edges, "id_a", "id_b")

    # r14: built plan memoized (see _memo_plan) — the oriented-wedge
    # plan build (~0.4 s of py4j) re-paid per invocation; no
    # construction actions (persists re-armed via the registry diff)
    return _memo_plan(
        spark, sf_dir, "x_triangle_counts", ["documents"], build
    )


@_register(
    "x_data_quality",
    """
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(count(*) - count(user_id) AS BIGINT) AS nn_user,
             CAST(count(*) - count(event_type) AS BIGINT) AS nn_type,
             CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT)
               AS dup_ids,
             CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS neg_vals,
             CAST(sum(CASE WHEN value > 1000 THEN 1 ELSE 0 END) AS BIGINT)
               AS big_vals,
             CAST(sum(CASE WHEN event_type IS NOT NULL
                            AND NOT regexp_matches(event_type, '^[a-z_]+$')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_types
      FROM events
    )
    SELECT 'not_null:user_id' AS check_name, nn_user AS observed,
           CAST(0 AS BIGINT) AS bound,
           CAST(CASE WHEN nn_user = 0 THEN 1 ELSE 0 END AS INT) AS passed
    FROM m
    UNION ALL
    SELECT 'not_null:event_type', nn_type, 0,
           CAST(CASE WHEN nn_type = 0 THEN 1 ELSE 0 END AS INT) FROM m
    UNION ALL
    SELECT 'unique:event_id', dup_ids, 0,
           CAST(CASE WHEN dup_ids = 0 THEN 1 ELSE 0 END AS INT) FROM m
    UNION ALL
    SELECT 'min_at_least:value', neg_vals, 0,
           CAST(CASE WHEN neg_vals = 0 THEN 1 ELSE 0 END AS INT) FROM m
    UNION ALL
    SELECT 'max_at_most:value', big_vals, 0,
           CAST(CASE WHEN big_vals = 0 THEN 1 ELSE 0 END AS INT) FROM m
    UNION ALL
    SELECT 'matches:event_type', bad_types, 0,
           CAST(CASE WHEN bad_types = 0 THEN 1 ELSE 0 END AS INT) FROM m
    UNION ALL
    SELECT 'row_count_at_least', total, 1000,
           CAST(CASE WHEN total >= 1000 THEN 1 ELSE 0 END AS INT) FROM m
    """,
)
def x_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ / great-expectations
    shape): seven constraints over the events table — null checks,
    id uniqueness, value range, type-name pattern, minimum row count —
    ALL evaluated in ONE aggregation over ONE scan (Catalyst fuses the
    check expressions into a single HashAggregate pair; a k-query audit
    would scan the corpus k times at 100 TB).  Integer observables only;
    the oracle computes the same single-pass wide aggregate and unpivots
    by UNION ALL (operators/profile.py::check_constraints)."""
    from kafka_dead_letter_analyzer_spark.operators.profile import (
        check_constraints,
    )

    return check_constraints(
        load_table(spark, sf_dir, "events"),
        [
            ("not_null", "user_id"),
            ("not_null", "event_type"),
            ("unique", "event_id"),
            ("min_at_least", "value", 0),
            ("max_at_most", "value", 1000),
            ("matches", "event_type", "^[a-z_]+$"),
            ("row_count_at_least", 1000),
        ],
    )


@_register(
    "x_dup_spans",
    rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), pos AS (
      SELECT doc_id, p.pos AS pos,
             {_duck_u60("p.g")} AS g
      FROM (SELECT doc_id,
                   unnest([{{'pos': i,
                            'g': array_to_string(toks[i : i + 7], ' ')}}
                           for i in range(1, len(toks) - 6)]) AS p
            FROM t WHERE len(toks) >= 8)
    ), m AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM pos a JOIN pos b ON a.g = b.g AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT da, db, pa - pb AS diag, pa, pb,
             pa - row_number() OVER (PARTITION BY da, db, pa - pb
                                     ORDER BY pa) AS isl
      FROM m
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(min(pa) AS BIGINT) AS start_a,
           CAST(min(pb) AS BIGINT) AS start_b,
           CAST(count(*) + 7 AS BIGINT) AS span_len
    FROM isl GROUP BY da, db, diag, isl
    """,
)
def x_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated passages of >= 8 tokens — the
    ExactSubstr dedup primitive (Lee et al. 2022): finds the repeated
    SPANS (boilerplate, licenses, quoted chunks) inside otherwise-
    distinct documents, which near-dup detectors that score whole
    documents cannot localize.  k-gram seed hashes -> cross-doc
    equi-join (renamed projections, never a same-lineage self-join) ->
    gaps-and-islands diagonal chaining windowed per (pair, diagonal).
    Exact config (no df-cap) for the oracle; at 100 TB the df-cap
    parameter bounds boilerplate-gram fan-out
    (operators/dedup.py::duplicate_spans).  DuckDB slice note: the
    oracle's ``toks[i : i + 7]`` is 1-based INCLUSIVE (8 tokens) and
    ``range(1, len - 6)`` is exclusive-stop = positions 1..len-7 —
    off-by-one-checked against Spark's slice(toks, i, 8) over
    sequence(1, L-7)."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import (
        duplicate_spans,
    )

    return duplicate_spans(
        load_table(spark, sf_dir, "documents"), k=8, max_gram_df=None
    )


# 16x16 variant of the synthetic images for the aHash (8x8-cell)
# incremental query — same cluster/noise construction as _PHASH_SQL
_AHASH_CELL_SUM = " + ".join(
    "(((doc_id % 101 + 1)"
    f" * (3 * (2 * (j % 8) + {dx}) + 5 * (2 * (j // 8) + {dy}) + 7)"
    " + (doc_id % 101) * (doc_id % 101)"
    " + CASE WHEN j // 8 = ((doc_id * 37 + 11) % 64) // 8"
    "        AND j % 8 = ((doc_id * 37 + 11) % 64) % 8"
    "   THEN 97 ELSE 0 END) % 251)"
    for dy in (0, 1)
    for dx in (0, 1)
)
_AHASH_PIXELS_EXPR = (
    "transform(sequence(0, 255), k -> CAST(("
    " (doc_id % 101 + 1)"
    "   * (3 * (k % 16) + 5 * (k div 16) + 7)"
    " + (doc_id % 101) * (doc_id % 101)"
    " + IF((k div 16) div 2 = ((doc_id * 37 + 11) % 64) div 8"
    "      AND (k % 16) div 2 = ((doc_id * 37 + 11) % 64) % 8,"
    "      97, 0)"
    ") % 251 AS INT))"
)
_AHASH_INCR_SQL = f"""
    WITH g AS (
      SELECT doc_id,
             [CAST(({_AHASH_CELL_SUM}) // 4 AS BIGINT)
              for j in range(0, 64)] AS grid
      FROM documents WHERE doc_id IS NOT NULL
    ), f AS (
      SELECT doc_id,
             list_sum([CASE WHEN grid[k + 1] > list_sum(grid) // 64
                            THEN ([{_BIT_POWS}][k + 1])::HUGEINT
                            ELSE 0::HUGEINT END
                       for k in range(0, 64)]) AS u
      FROM g
    ), s AS (
      SELECT doc_id,
             CAST(CASE WHEN u >= {2**63}::HUGEINT
                       THEN u - {2**64}::HUGEINT
                       ELSE u END AS BIGINT) AS sh
      FROM f
    )
    SELECT new_id, corpus_id, hamming FROM (
      SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
             CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
      FROM s a, s b
      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
    ) WHERE hamming <= 4
    """


@_register("x_phash_incremental", _AHASH_INCR_SQL)
def x_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual-hash near-dup — the ARRIVAL path: the
    'new batch' slice (doc_id % 5 == 0) of the synthetic image corpus
    checked against the standing index (the other 4/5), never
    re-pairing the corpus with itself
    (operators/dedup.py::hash64_hamming_join, the
    dedup_near_minhash_incremental pattern applied to 64-bit
    fingerprints).  This one runs the aHash leg (multimodal.ahash64,
    8x8 mean-threshold grid over 16x16 real PNG round-tripped
    pixels), so BOTH perceptual hashes are oracle-gated end-to-end
    through the real codec.  Pigeonhole recall is guaranteed (5
    bands, Hamming <= 4), so the banded join's answer equals the
    oracle's brute-force new x corpus filter.

    Plan: one scan + the two Arrow codec maps + JVM hash fold, then
    the banded new x corpus equi-join — shuffle volume is
    n_bands * (|new| + |corpus|) 16-byte rows; at 100 TB the corpus
    side is a precomputed (id, hash) parquet, not re-decoded
    payloads."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select(
            F.col("doc_id").alias("media_id"),
            F.expr(_AHASH_PIXELS_EXPR).alias("pixels"),
        )
    )
    media = MM.encode_gray_media(base, width=16, height=16)
    grid = MM.image_gray_grid(media, cols=8, rows=8)
    # persist the 16-byte/doc fingerprint frame: both join sides
    # filter it, and an unpersisted lineage would run the codec maps
    # twice (in production the corpus side IS this persisted artifact)
    ah = cache_registry.track(
        grid.select(
            "media_id", MM.ahash64("grid").alias("_sh")
        ).persist()
    )
    return D.hash64_hamming_join(
        ah.filter(F.col("media_id") % 5 == 0),
        ah.filter(F.col("media_id") % 5 != 0),
        id_col="media_id",
        hash_col="_sh",
        max_hamming=4,
    )


@_register(
    "x_exact_substring_dups",
    rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), pos AS (
      SELECT doc_id, p.pos AS pos,
             {_duck_u60("p.g")} AS g
      FROM (SELECT doc_id,
                   unnest([{{'pos': i,
                            'g': array_to_string(toks[i : i + 7], ' ')}}
                           for i in range(1, len(toks) - 6)]) AS p
            FROM t WHERE len(toks) >= 8)
    ), fm AS (
      SELECT g, min(doc_id) AS fd FROM pos GROUP BY g
    ), fp AS (
      SELECT p.g, fm.fd, min(p.pos) AS fpos
      FROM pos p JOIN fm ON p.g = fm.g AND p.doc_id = fm.fd
      GROUP BY 1, 2
    ), m AS (
      SELECT p.doc_id, p.pos
      FROM pos p JOIN fp ON p.g = fp.g
      WHERE NOT (p.doc_id = fp.fd AND p.pos = fp.fpos)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(
                    max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS nw
      FROM m
    ), isl AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM fl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS cut_start,
           CAST(max(pos) + 7 AS BIGINT) AS cut_end
    FROM isl GROUP BY doc_id, isl
    """,
)
def x_exact_substring_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring DEDUP (Lee et al. 2022 §4 ExactSubstr;
    r12 verdict #5) — the keep-first CUT decision the pipeline
    applies, complementing x_dup_spans' pair surface: per document,
    the merged token intervals covering every 8-gram whose exact text
    occurs earlier in (doc_id, pos) order, corpus-wide and
    within-document (operators/dedup.py::exact_substring_cut).
    LINEAR plan — no pair join: the (doc, pos, 60-bit md5 gram) seed
    projection (hash idiom shared with x_dup_spans, so the oracle
    reproduces it), ONE map-side-combined min-(doc,pos) contraction
    per gram (boilerplate grams REDUCE instead of fanning out — the
    scale contrast to the span-pair path), a hash-only join back, and
    a per-DOC gaps-and-islands interval merge whose window is bounded
    by one document's token count."""
    return D.exact_substring_cut(
        load_table(spark, sf_dir, "documents"), k=8
    )


@_register(
    "x_exact_substring_clean",
    rf"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), pos AS (
      SELECT doc_id, p.pos AS pos,
             {_duck_u60("p.g")} AS g
      FROM (SELECT doc_id,
                   unnest([{{'pos': i,
                            'g': array_to_string(toks[i : i + 7], ' ')}}
                           for i in range(1, len(toks) - 6)]) AS p
            FROM t WHERE len(toks) >= 8)
    ), fm AS (
      SELECT g, min(doc_id) AS fd FROM pos GROUP BY g
    ), fp AS (
      SELECT p.g, fm.fd, min(p.pos) AS fpos
      FROM pos p JOIN fm ON p.g = fm.g AND p.doc_id = fm.fd
      GROUP BY 1, 2
    ), m AS (
      SELECT p.doc_id, p.pos
      FROM pos p JOIN fp ON p.g = fp.g
      WHERE NOT (p.doc_id = fp.fd AND p.pos = fp.fpos)
    ), fl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(
                    max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS nw
      FROM m
    ), isl AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM fl
    ), cut AS (
      SELECT doc_id, min(pos) AS cs, max(pos) + 7 AS ce
      FROM isl GROUP BY doc_id, isl
    ), ranges AS (
      SELECT doc_id, list({{'s': cs, 'e': ce}}) AS rl
      FROM cut GROUP BY doc_id
    ), sel AS (
      SELECT t.doc_id, t.toks,
             list_transform(
               list_filter(range(1, len(t.toks) + 1),
                 i -> len(list_filter(
                        coalesce(ranges.rl,
                                 []::STRUCT(s BIGINT, e BIGINT)[]),
                        x -> x.s <= i AND i <= x.e)) = 0),
               i -> t.toks[i]) AS kept
      FROM t LEFT JOIN ranges USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(kept) AS BIGINT) AS cut_tokens,
           CAST(len(kept) AS BIGINT) AS kept_tokens,
           -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
           coalesce(array_to_string(kept, ' '), '') AS cleaned_text
    FROM sel
    """,
)
def x_exact_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr pipeline CLOSED end-to-end: cut intervals
    (x_exact_substring_dups' keep-first decision) APPLIED to the
    corpus — every document back with its duplicated token ranges
    removed and integer accounting
    (operators/dedup.py::apply_substring_cuts over
    exact_substring_cut, k=8).  The whole chain — seed hashes,
    min-(doc,pos) canonicalization, interval merge, token filtering,
    re-joined cleaned text — hash-gates as one declared surface.
    Plan: the linear cut plan + one ranges contraction (bounded per
    doc) + ONE left equi-join + a pure-JVM higher-order position
    filter; the text is scanned twice total (once for seeds, once
    for the apply side), never more."""
    docs = load_table(spark, sf_dir, "documents")
    return D.apply_substring_cuts(
        docs, D.exact_substring_cut(docs, k=8)
    )


@_register(
    "x_setsim_join",
    r"""
    WITH t0 AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = ''
                  THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents
    ), t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i : i + 2], ' ')
                        for i in range(1, len(toks) - 1)]
                  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                  ELSE []::VARCHAR[] END) AS st
      FROM t0
    ), tok AS (
      SELECT doc_id, len(st) AS sz, unnest(st) AS tk
      FROM t WHERE len(st) > 0
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i,
             any_value(a.sz) AS sza, any_value(b.sz) AS szb
      FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(i AS BIGINT) AS inter_sz,
           CAST(sza + szb - i AS BIGINT) AS union_sz,
           CAST((1000000 * i) // (sza + szb - i) AS BIGINT) AS jaccard_ppm
    FROM pairs WHERE 10 * i >= 7 * (sza + szb - i)
    """,
)
@_memo_plan_query("x_setsim_join", ["documents"])
def x_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.7 self-join over distinct 3-token-SHINGLE
    sets via PREFIX FILTERING (AllPairs/PPJoin): only each document's
    rarest ``|s| - ceil(t|s|) + 1`` shingles enter the candidate index
    — a completeness theorem, not a recall trade — so frequent
    shingles (whose posting lists blow up a full inverted index at
    100 TB) mostly never generate candidates.  Shingles, not unigrams:
    on this corpus's small vocabulary, unigram J >= 0.9 holds for 7.7%
    of ALL pairs (~1M rows at sf0.1 — a vacuous answer measured at
    40 s); 3-shingle J >= 0.7 selects exactly the near-dup groups
    (256 pairs at 0.5, identical set at 0.7 — and the 0.7 prefix is
    ~30% of each set vs 50%+1, a 3x smaller candidate index).  The
    oracle is from-scratch ALL-pairs
    Jaccard in SQL: the result contract is strategy-independent, so
    the hash gate itself proves the prefix filter lost nothing
    (operators/dedup.py::setsim_join_prefix)."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import (
        setsim_join_prefix,
    )

    return setsim_join_prefix(
        load_table(spark, sf_dir, "documents"),
        threshold_num=7,
        threshold_den=10,
        shingle_k=3,
    )


@_register(
    "x_mad_outliers",
    """
    WITH base AS (
      SELECT event_type,
             CAST(floor(CAST(value AS DECIMAL(28,12)) * 1000000) AS BIGINT)
               AS v,
             event_id AS tb
      FROM events WHERE value IS NOT NULL
    ), med AS (
      SELECT event_type,
             max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med,
             CAST(max(n) AS BIGINT) AS n_total
      FROM (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type ORDER BY v, tb)
                 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM base
      ) GROUP BY event_type
    ), dev AS (
      SELECT b.event_type, abs(b.v - m.med) AS d, b.tb, m.med, m.n_total
      FROM base b JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type,
             max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS mad
      FROM (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d, tb)
                 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(max(d.med) AS BIGINT) AS med,
           CAST(max(a.mad) AS BIGINT) AS mad,
           CAST(sum(CASE WHEN d.d * 1 > 3 * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(max(d.n_total) AS BIGINT) AS n_total
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def x_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier counts by the 3-MAD Hampel rule — median
    and median-absolute-deviation both have breakdown point 0.5, so the
    monitor survives up to half a group being garbage where mean/sigma
    breaks at one corrupted reading.  Values floor to exact micros
    before any statistic; two nearest-rank passes (each one Exchange,
    window + groupBy sharing the key partitioning); per-key medians
    rejoin as broadcasts (operators/analytics.py::mad_outliers)."""
    return AN.mad_outliers(
        load_table(spark, sf_dir, "events"),
        key="event_type",
        value_col="value",
        tiebreak="event_id",
    )


def _pagerank_int_sql(iters: int = 3, scale: int = 1_000_000,
                      num: int = 85, den: int = 100) -> str:
    """Relationally UNROLLED integer PageRank oracle (the kmeans_int
    precedent): one CTE per power iteration over the collocation
    graph, every step truncating-integer like the operator."""
    base = (scale * (den - num)) // den
    head = r"""
    WITH t AS (
      SELECT CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      FROM documents
    ), pairs AS (
      SELECT unnest(flatten([
               [{'c': toks[i], 'x': toks[i + o]}
                for o in [-2, -1, 1, 2]
                if i + o >= 1 AND i + o <= len(toks)]
               for i in range(1, len(toks) + 1)])) AS p
      FROM t WHERE len(toks) >= 1
    ), pc AS (
      SELECT p.c AS c, p.x AS x, count(*) AS n FROM pairs GROUP BY 1, 2
    ), e AS (
      SELECT c AS u, x AS v FROM pc WHERE n >= 2 AND c <> x
    ), nodes AS (
      SELECT DISTINCT nd FROM (SELECT u AS nd FROM e UNION ALL SELECT v AS nd FROM e)
    ), od AS (
      SELECT u, count(*) AS od FROM e GROUP BY 1
    ), r0 AS (
      SELECT nd AS node, CAST(%(scale)s AS BIGINT) AS rank_int FROM nodes
    )""" % {"scale": scale}
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", r{i} AS (
      SELECT n.nd AS node,
             CAST({base} + ({num} * coalesce(s.s, 0)) // {den} AS BIGINT)
               AS rank_int
      FROM nodes n LEFT JOIN (
        SELECT e.v AS node, sum(r.rank_int // o.od) AS s
        FROM r{i-1} r JOIN e ON r.node = e.u JOIN od o ON e.u = o.u
        GROUP BY 1
      ) s ON n.nd = s.node
    )""")
    return head + "".join(steps) + f"\n    SELECT node, rank_int FROM r{iters}"


@_register("x_pagerank_int", _pagerank_int_sql())
def x_pagerank_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 power iterations, damping 0.85, rank
    scale 1e6) over the directed collocation graph — token centrality
    for keyword extraction (the TextRank shape).  Every arithmetic step
    is truncating-integer in a FIXED order (divide per contribution,
    one divide after the damped sum), so ranks are bit-identical on any
    engine/partitioning/retry; the oracle unrolls the iterations as
    CTEs.  Per iteration: one equi-join (|V|-row rank table broadcasts
    when small) + one map-side-combined groupBy — fixed iteration count
    keeps lineage bounded (operators/graph.py::pagerank_int)."""
    from kafka_dead_letter_analyzer_spark.operators import graph as GR

    pc = TX.cooccurrence_counts(
        load_table(spark, sf_dir, "documents"), text_col="text", window=2
    )
    edges = pc.filter(
        (F.col("n") >= 2) & (F.col("center") != F.col("context"))
    ).select(F.col("center").alias("id_a"), F.col("context").alias("id_b"))
    return GR.pagerank_int(edges, "id_a", "id_b", iters=3)


@_register("x_bloom_prefilter_audit")
def x_bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom PROBE audit — build the bitmap over the
    customer keys that placed URGENT orders, probe EVERY customer key against
    it at scale (operators/sketches.py::bloom_probe — the broadcast
    word-lookup complement of the driver-side bloom_contains), and
    report ``(n_probed, n_maybe, n_true, false_pos)``: no false
    negatives is structural (n_maybe >= n_true always; the oracle
    equality pins the exact FP count at this m/k/n), and false_pos
    measures the (1 - e^{-kn/m})^k rate the prefilter pays to shrink
    an exact anti-join's build side.  Plan: num_hashes-way literal
    explode of the DISTINCT probe keys, LEFT join against the
    BROADCAST 64-row bitmap, one map-side-combined min per key, one
    1-row summary aggregate."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    sk = SK.bloom_sketch(orders, key="o_custkey", num_hashes=4, num_words=64)
    probed = SK.bloom_probe(cust, sk, key="c_custkey")
    truth = orders.select(F.col("o_custkey").alias("tk")).distinct()
    joined = probed.join(
        truth, probed["c_custkey"] == truth["tk"], "left"
    )
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_maybe"),
        F.sum(F.when(F.col("tk").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true"),
        F.sum(
            F.when(F.col("maybe_member") & F.col("tk").isNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("false_pos"),
    )
    # in-query FP-rate assertion (round 9): a false-positive rate past
    # 50% of the probed keys means the bitmap is saturated for this
    # m/k/n and the prefilter it models is a no-op that still pays the
    # probe — raise instead of reporting a silently-degenerate audit.
    # Zero-cost when healthy: the ELSE arm is the plain count, so the
    # oracle (which never saturates at this fixture) is unchanged.
    return agg.select(
        "n_probed",
        "n_maybe",
        "n_true",
        F.expr(
            "CASE WHEN false_pos * 2 > n_probed THEN"
            " CAST(raise_error('x_bloom_prefilter_audit: false-positive"
            " rate exceeds 50% — the bitmap is saturated for this"
            " m/k/n; auto-size it (ngram_overlap_prefiltered"
            " num_words=None)') AS BIGINT)"
            " ELSE false_pos END"
        ).cast("bigint").alias("false_pos"),
    )


_ORACLES["x_bloom_prefilter_audit"] = f"""
    WITH sk AS (
      SELECT CAST(h // 63 AS INT) AS word,
             CAST(bit_or(1::BIGINT << CAST(h % 63 AS INT)) AS BIGINT)
               AS bits
      FROM (
        SELECT ({_duck_u60("CAST(o_custkey AS VARCHAR) || '!' || CAST(ds.d AS VARCHAR)")})
               % 4032 AS h
        FROM orders CROSS JOIN (SELECT unnest(range(4)) AS d) ds
        WHERE o_orderpriority = '1-URGENT'
      ) GROUP BY 1
    ), probes AS (
      SELECT c_custkey, CAST(h // 63 AS INT) AS word,
             CAST(h % 63 AS INT) AS bit
      FROM (
        SELECT c_custkey,
               ({_duck_u60("CAST(c_custkey AS VARCHAR) || '!' || CAST(ds.d AS VARCHAR)")})
               % 4032 AS h
        FROM (SELECT DISTINCT c_custkey FROM customer)
        CROSS JOIN (SELECT unnest(range(4)) AS d) ds
      )
    ), looked AS (
      SELECT c_custkey,
             CAST(((COALESCE(bits, 0) >> bit) & 1) AS INT) AS hit
      FROM probes LEFT JOIN sk USING (word)
    ), mem AS (
      SELECT c_custkey, min(hit) = 1 AS maybe FROM looked GROUP BY 1
    ), truth AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderpriority = '1-URGENT')
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_maybe,
           CAST(sum(CASE WHEN t.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN maybe AND t.o_custkey IS NULL THEN 1
             ELSE 0 END) AS BIGINT) AS false_pos
    FROM mem LEFT JOIN truth t ON t.o_custkey = mem.c_custkey
    """


@_register(
    "x_bloom_filter",
    f"""
    WITH h AS (
      SELECT ({_duck_u60("CAST(doc_id AS VARCHAR) || '!' || CAST(ds.d AS VARCHAR)")})
             % 4032 AS h
      FROM documents CROSS JOIN (SELECT unnest(range(4)) AS d) ds
    )
    SELECT CAST(h // 63 AS INT) AS word,
           CAST(bit_or(1::BIGINT << CAST(h % 63 AS INT)) AS BIGINT) AS bits
    FROM h GROUP BY 1
    """,
)
def x_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter bitmap of the corpus doc-id set (4 hashes, 64
    63-bit words = 4,032 bits) — the MEMBERSHIP sketch completing the
    family (KMV how-many / CMS how-often / HLL how-many / Bloom
    is-it-there): merge = word-wise bit_or, no false negatives;
    a collected 64-row bitmap replaces a billion-row anti-join for
    "seen before?" checks at ingest.  63 bits per word keeps every
    value a non-negative BIGINT on both engines (1<<63 overflows
    DuckDB and wraps negative in Spark).  One aggregate pair, task
    output bounded at num_words rows
    (operators/sketches.py::bloom_sketch)."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    return SK.bloom_sketch(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        key="doc_id",
        num_hashes=4,
        num_words=64,
    )


@_register(
    "x_pareto_docs",
    f"""
    WITH {_TOKS_CTE}, pts AS (
      SELECT t.doc_id,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_distinct(toks)) * 1000000 // len(toks)
                            AS BIGINT)
                  ELSE 0 END AS diversity_ppm,
             d.n_chars
      FROM t JOIN documents d ON t.doc_id = d.doc_id
    )
    SELECT p.doc_id, p.diversity_ppm, p.n_chars
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.diversity_ppm >= p.diversity_ppm AND q.n_chars <= p.n_chars
        AND (q.diversity_ppm > p.diversity_ppm OR q.n_chars < p.n_chars)
    )
    """,
)
def x_pareto_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over (maximize vocabulary diversity, minimize
    length): the Pareto-optimal documents no other doc beats on both
    axes — the multi-objective data-selection shape.  The naive NOT
    EXISTS (which IS the oracle) is O(n^2); the operator contracts to
    one row per distinct diversity value first (partial-agg groupBy,
    bounded by the ppm range, never the corpus), runs the classic
    sort-scan over that contraction, and semi-joins the frontier back —
    ties on both axes all survive, per the dominance definition
    (operators/analytics.py::skyline_2d)."""
    from kafka_dead_letter_analyzer_spark.operators.analytics import (
        skyline_2d,
    )

    docs = load_table(spark, sf_dir, "documents")
    div = TX.token_diversity(docs).select(
        "doc_id", F.coalesce("diversity_ppm", F.lit(0)).alias("diversity_ppm")
    )
    pts = div.join(docs.select("doc_id", "n_chars"), "doc_id")
    return skyline_2d(pts, "doc_id", "diversity_ppm", "n_chars")


@_register(
    "x_sorted_neighborhood",
    r"""
    WITH t0 AS (
      SELECT doc_id,
             trim(lower(coalesce(text, ''))) AS norm,
             CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents
    ), t AS (
      SELECT doc_id, substring(norm, 1, 24) AS bk,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i : i + 2], ' ')
                        for i in range(1, len(toks) - 1)]
                  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                  ELSE []::VARCHAR[] END) AS st
      FROM t0
    ), td AS (SELECT * FROM t WHERE len(st) > 0),
    ranked AS (
      SELECT bk, dense_rank() OVER (ORDER BY bk) AS rk
      FROM (SELECT DISTINCT bk FROM td)
    ), nk AS (
      SELECT a.bk AS bka, b.bk AS bkb, b.rk - a.rk AS key_dist
      FROM ranked a JOIN ranked b
        ON b.rk >= a.rk AND b.rk - a.rk <= 2
    ), cand AS (
      SELECT a.doc_id AS da, b.doc_id AS db, nk.key_dist,
             len(a.st) + len(b.st)
               - len(list_distinct(list_concat(a.st, b.st))) AS i,
             len(list_distinct(list_concat(a.st, b.st))) AS u
      FROM td a JOIN nk ON a.bk = nk.bka
                JOIN td b ON b.bk = nk.bkb AND a.doc_id < b.doc_id
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(key_dist AS BIGINT) AS key_dist,
           CAST(i AS BIGINT) AS inter_sz,
           CAST(u AS BIGINT) AS union_sz,
           CAST((1000000 * i) // u AS BIGINT) AS jaccard_ppm
    FROM cand WHERE 2 * i >= u
    """,
)
def x_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernandez & Stolfo
    merge/purge): records whose 24-char normalized prefixes are within
    2 DISTINCT key values in sorted order, verified by exact 3-shingle
    Jaccard >= 0.5 — the complementary blocking geometry to hash/LSH/
    prefix schemes (catches lexically ADJACENT variants at O(n*window)
    candidates, immune to frequency skew).  No global row_number over
    the data: the blocking keys contract to distinct values, a dense
    rank orders that bounded contraction, and the neighborhood is an
    equi-join on rank-band buckets
    (operators/dedup.py::sorted_neighborhood_pairs)."""
    from kafka_dead_letter_analyzer_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "documents"),
        prefix_chars=24,
        window=2,
        threshold_num=1,
        threshold_den=2,
        shingle_k=3,
    )


@_register(
    "x_hll_daily",
    f"""
    WITH h AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             {_duck_u60("CAST(user_id AS VARCHAR)")} AS h60
      FROM events
    )
    SELECT day,
           CAST(h60 // 4503599627370496 AS INT) AS register,
           CAST(max(CASE WHEN h60 % 4503599627370496 = 0 THEN 53
                         ELSE 52 - length(bin(h60 % 4503599627370496)) + 1
                    END) AS INT) AS max_rho
    FROM h
    GROUP BY 1, 2
    """,
)
def x_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL register sketches (p=8) of daily active users — the
    GROUPED sketch surface: any coarser granularity (week, month, an
    arbitrary date range) derives by max over these rows without
    touching raw data again (rollup law differential-tested in
    tests/test_sketches.py).  One aggregate pair on (day, register);
    the day column crosses the gate N3-style as a formatted string
    (operators/sketches.py::hll_register_maxima group_cols)."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    return SK.hll_register_maxima(ev, "user_id", p=8, group_cols=["day"])


@_register(
    "x_rate_spikes",
    """
    WITH hourly AS (
      SELECT event_type,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type,
             max(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS med
      FROM (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt, hour) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly
      ) GROUP BY 1
    )
    SELECT h.event_type, h.hour, h.cnt,
           CAST(m.med AS BIGINT) AS med,
           CAST(CASE WHEN h.cnt > 2 * m.med THEN 1 ELSE 0 END AS INT)
             AS is_spike
    FROM hourly h JOIN med m USING (event_type)
    """,
)
def x_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike detection: hourly counts per type flagged
    against 2x the type's own nearest-rank MEDIAN hourly rate — the
    second-order aggregation shape (a statistic OF an aggregate) every
    monitoring pipeline runs, robust to the skewed baseline a mean
    threshold would inflate.  The median pass runs over the hourly
    CONTRACTION (types x hours rows, never raw events); the per-type
    medians rejoin broadcast.  All integer; hour crosses N3-style as a
    formatted string."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00")
            .alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("cnt", "hour")
    f = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    med = (
        hourly.select(
            "event_type", "cnt",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(f).alias("_n"),
        )
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(F.col("_rn") == F.expr("(_n + 1) div 2"), F.col("cnt"))
            )
            .cast("bigint")
            .alias("med")
        )
    )
    return hourly.join(F.broadcast(med), "event_type").select(
        "event_type", "hour", "cnt", "med",
        F.when(F.col("cnt") > 2 * F.col("med"), 1).otherwise(0)
        .cast("int")
        .alias("is_spike"),
    )


@_register(
    "x_quantile_normalize",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(CAST(value AS DECIMAL(28,12)) * 1000000) AS BIGINT)
               AS v
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_id, event_type,
           CAST(CASE WHEN n > 1
                THEN ((rk - 1) * 1000000) // (n - 1)
                ELSE 0 END AS BIGINT) AS quantile_ppm
    FROM (
      SELECT event_id, event_type, v,
             rank() OVER (PARTITION BY event_type ORDER BY v) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM base
    )
    """,
)
def x_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization per group — map each value to
    its within-group quantile position in ppm ((rank-1)*1e6 DIV (n-1))
    — the scale-free feature transform ML preprocessing applies before
    mixing heterogeneous metrics.  min-rank ties (SQL rank()) keep the
    transform a pure function of the data; values floor to exact micros
    first so rank order is identical cross-engine.  One window pass per
    group key, no second shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    micros = F.floor(F.col("value").cast("decimal(28,12)") * 1_000_000).cast(
        "bigint"
    )
    w = Window.partitionBy("event_type").orderBy("v")
    f = Window.partitionBy("event_type")
    return (
        ev.select("event_id", "event_type", micros.alias("v"))
        .select(
            "event_id", "event_type",
            F.rank().over(w).cast("bigint").alias("rk"),
            F.count(F.lit(1)).over(f).cast("bigint").alias("n"),
        )
        .select(
            "event_id", "event_type",
            F.when(
                F.col("n") > 1, F.expr("((rk - 1) * 1000000) DIV (n - 1)")
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("quantile_ppm"),
        )
    )


@_register(
    "x_gini_concentration",
    """
    WITH base AS (
      SELECT event_type,
             CAST(floor(CAST(value AS DECIMAL(28,12)) * 1000000) AS BIGINT)
               AS v,
             event_id AS tb
      FROM events WHERE value IS NOT NULL
    ), ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, tb) AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM base
    )
    SELECT event_type,
           CAST(sum((2 * i - n - 1) * v) AS BIGINT) AS gini_num,
           CAST(max(n) * sum(v) AS BIGINT) AS gini_den,
           CAST(max(n) AS BIGINT) AS n_rows
    FROM ranked
    GROUP BY event_type
    """,
)
def x_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of `value` per event type via the sorted-rank
    identity sum((2i - n - 1) * x_(i)) / (n * sum x) — is the metric
    mass spread evenly or held by a few rows? (the inequality /
    hot-key-revenue audit).  Numerator and denominator are emitted as
    separate exact BIGINTs — the ratio is the caller's float, never the
    gate's.  One ordered window per group sharing its exchange with the
    final aggregation; the row_number tiebreak makes the rank — and
    with it every term — a pure function of the data (equal values
    permute within a tie but (2i-n-1) sums identically over the tie
    run... verified exactly: equal v across a tie run contribute
    v * sum(2i-n-1) which depends only on the run's rank span)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    micros = F.floor(F.col("value").cast("decimal(28,12)") * 1_000_000).cast(
        "bigint"
    )
    w = Window.partitionBy("event_type").orderBy("v", "tb")
    f = Window.partitionBy("event_type")
    return (
        ev.select("event_type", micros.alias("v"), F.col("event_id").alias("tb"))
        .select(
            "event_type", "v",
            F.row_number().over(w).cast("bigint").alias("i"),
            F.count(F.lit(1)).over(f).cast("bigint").alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("v"))
            .cast("bigint")
            .alias("gini_num"),
            (F.max("n") * F.sum("v")).cast("bigint").alias("gini_den"),
            F.max("n").cast("bigint").alias("n_rows"),
        )
    )


@_register(
    "x_event_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def x_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step behavior paths per user — the sequence-mining
    depth beyond the pairwise Markov transitions (x_event_transitions):
    which three-event paths recur across the population.  Both lead
    columns ride ONE window spec (one sort per user partition, shared
    exchange); the trigram rollup partial-aggregates map-side to at
    most |types|^3 rows per task.  The (ts, event_id) tiebreak makes
    the sequence a pure function of the data."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@_register(
    "x_basket_pairs",
    """
    WITH b AS (
      SELECT DISTINCT user_id, event_type FROM events
    )
    SELECT x.event_type AS type_a, y.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS support
    FROM b x JOIN b y
      ON x.user_id = y.user_id AND x.event_type < y.event_type
    GROUP BY 1, 2
    """,
)
def x_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item PAIRS across user baskets (the A-priori L2 support
    count): for every unordered pair of event types, how many users did
    both — the market-basket / co-engagement primitive.  The basket
    table contracts to distinct (user, type) FIRST (one shuffle; at
    most |types| rows per user enter the pair join), then the per-user
    self-join runs through RENAMED projections (the same-lineage trap)
    with the `<` canonical order; pair rollup partial-aggregates to
    |types|^2/2 rows per task."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("user_id", "event_type").distinct()
    x = b.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_a"))
    y = b.select(F.col("user_id").alias("u2"), F.col("event_type").alias("type_b"))
    return (
        x.join(
            y,
            (F.col("u") == F.col("u2"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketches (operators/quantiles.py) — the sketch
# family's percentile member: level-sampling state through the hash
# gate; the true KLL compactor declared rows-only (compaction is not
# SQL-expressible) with differential tests in tests/test_quantiles.py.
# ---------------------------------------------------------------------------


@_register(
    "x_quantile_sketch",
    f"""
    WITH src AS (
      SELECT {_duck_u60("'qsk:' || CAST(event_id AS VARCHAR)")} AS h60,
             value AS v
      FROM events WHERE value IS NOT NULL
    ), lvl AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CASE WHEN (count(*) + 255) // 256 <= 1 THEN 0
                       ELSE length(bin((count(*) + 255) // 256 - 1))
                  END AS INT) AS L
      FROM src
    )
    SELECT s.h60, s.v,
           CAST(1::BIGINT << l.L AS BIGINT) AS weight,
           l.n
    FROM src s, lvl l
    WHERE s.h60 < (1::BIGINT << (60 - l.L))
    """,
)
def x_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-sampling quantile sketch (k=256) of event latency — the
    mergeable PERCENTILE state next to the KMV/CMS/HLL/Bloom family:
    the rows whose salted 60-bit key hash falls below 2^(60-L), each
    standing for 2^L inputs, L the smallest integer with n/2^L <= 256.
    Because L is a pure integer function of the count and the draw is
    a deterministic hash threshold, the sketch is a pure function of
    the data multiset — partition-independent and hash-gate-checkable,
    unlike a KLL compactor whose state depends on buffer order.  Merge
    law is EXACT (re-threshold the union; {h < T} is monotone in T) —
    tested in tests/test_quantiles.py; the float estimator
    (quantile_sketch_estimate) is differential-tested against exact
    nearest-rank quantiles.  At 100 TB this replaces the full
    per-group sort of x_latency_percentiles with two scans and a
    ~k-row result."""
    from kafka_dead_letter_analyzer_spark.operators import quantiles as QT

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return QT.quantile_level_sketch(ev, key="event_id", value_col="value", k=256)


@_register(
    "x_quantile_sketch_groups",
    f"""
    WITH src AS (
      SELECT event_type,
             {_duck_u60("'qsk:' || CAST(event_id AS VARCHAR)")} AS h60,
             value AS v,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
    ), lv AS (
      SELECT *, CAST(CASE WHEN (n + 63) // 64 <= 1 THEN 0
                          ELSE length(bin((n + 63) // 64 - 1))
                     END AS INT) AS L
      FROM src
    )
    SELECT event_type, h60, v,
           CAST(1::BIGINT << L AS BIGINT) AS weight, n
    FROM lv
    WHERE h60 < (1::BIGINT << (60 - L))
    """,
)
def x_quantile_sketch_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile sketches (k=64) — one level sample per
    group with per-group n and threshold, the per-error-key latency
    distribution the reference's monitoring consumers would page on.
    Per-group sketches roll up to any coarser grouping EXACTLY via
    quantile_sketch_merge (union + re-threshold at the union's level) —
    the rollup law tested in tests/test_quantiles.py.  One window
    count + one filter; every group contributes ~k rows downstream no
    matter its size."""
    from kafka_dead_letter_analyzer_spark.operators import quantiles as QT

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return QT.quantile_level_sketch(
        ev, key="event_id", value_col="value", k=64, group_cols=["event_type"]
    )


@_register("x_kll_quantiles")  # rows-only: KLL compaction is not SQL-expressible
def x_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True KLL compactor sketch (Karnin-Lang-Liberty FOCS'16, k=200)
    over event latency: p50/p90/p95/p99/p999 estimates with O(1/k)
    rank error — the tighter bound the level sketch trades away for
    hash-checkability.  Deterministic end to end (md5-derived
    compaction coins, hash-ordered insertion, fixed bucket merge
    order), but the state is a function of buffer ORDER, so no SQL
    oracle can replay it: declared rows-only; accuracy and the exact
    sum(2^level)==n weight invariant are differential-tested in
    tests/test_quantiles.py.  Scale shape: one KLL per hash bucket via
    streaming mapInPandas at O(sketch) memory, buckets x |sketch| rows
    collected, driver merge — the bounded-collect contract."""
    from kafka_dead_letter_analyzer_spark.operators import quantiles as QT

    ev = load_table(spark, sf_dir, "events")
    return QT.kll_quantiles(
        ev, key="event_id", value_col="value", k=200, buckets=8
    )


@_register(
    "x_kmv_setops",
    f"""
    WITH keys AS (
      SELECT event_type,
             CAST(user_id AS VARCHAR) || '@' || strftime(ts, '%Y-%m-%d') AS ud
      FROM events
    ), ka AS (
      SELECT DISTINCT {_duck_u60("ud")} AS h60
      FROM keys WHERE event_type = 'click' ORDER BY h60 LIMIT 128
    ), kb AS (
      SELECT DISTINCT {_duck_u60("ud")} AS h60
      FROM keys WHERE event_type = 'purchase' ORDER BY h60 LIMIT 128
    ), th AS (
      SELECT least(
        (SELECT CASE WHEN count(*) >= 128 THEN max(h60)
                     ELSE 1152921504606846976 END FROM ka),
        (SELECT CASE WHEN count(*) >= 128 THEN max(h60)
                     ELSE 1152921504606846976 END FROM kb)) AS theta
    ), u AS (
      SELECT coalesce(a.h60, b.h60) AS h60,
             CAST(a.h60 IS NOT NULL AS INT) AS in_a,
             CAST(b.h60 IS NOT NULL AS INT) AS in_b
      FROM ka a FULL JOIN kb b ON a.h60 = b.h60
    ), v AS (
      SELECT u.h60, u.in_a, u.in_b FROM u, th
      WHERE u.h60 <= th.theta ORDER BY h60 LIMIT 128
    )
    SELECT CAST(row_number() OVER (ORDER BY h60) AS BIGINT) AS rank,
           h60, in_a, in_b
    FROM v
    """,
)
def x_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over two KMV sketches: click vs
    purchase user-day sets, composed into the k smallest valid-region
    union hashes with per-side membership flags
    (operators/sketches.py::kmv_set_algebra).  The collected rows
    price |A ∪ B|, |A ∩ B|, and Jaccard WITHOUT rescanning either
    corpus — the join-cardinality estimate a planner wants from two
    128-row sketches.  Everything after the two sketch builds moves
    sketch-sized data (full-outer join of 128-row sides, 1-row theta
    aggregates, k-row rank window); membership flags are EXACT inside
    the valid region h <= min(theta_a, theta_b), which is what makes
    the integer state oracle-checkable.  Estimator accuracy vs the
    true Jaccard is tested in tests/test_sketches.py."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events")
    ud = F.concat(
        F.col("user_id").cast("string"),
        F.lit("@"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    base = ev.select("event_type", ud.alias("ud"))
    sk_a = SK.kmv_distinct_sketch(
        base.filter(F.col("event_type") == "click").select("ud"), "ud", k=128
    )
    sk_b = SK.kmv_distinct_sketch(
        base.filter(F.col("event_type") == "purchase").select("ud"), "ud", k=128
    )
    return SK.kmv_set_algebra(sk_a, sk_b, k=128)


# ---------------------------------------------------------------------------
# Round-6 session-2 additions: asymmetric containment join (quote/subset
# detection), integer covariance sufficient statistics (one-pass PCA fit),
# k-core decomposition of the co-occurrence graph, and functional-dependency
# profiling — each a capability class next to an existing family
# (set-similarity, sufficient-stats regression, triangle/PageRank graph
# analytics, the Deequ-shape quality suite).
# ---------------------------------------------------------------------------


@_register(
    "x_containment_join",
    r"""
    WITH t0 AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = ''
                  THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents
    ), t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i : i + 2], ' ')
                        for i in range(1, len(toks) - 1)]
                  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                  ELSE []::VARCHAR[] END) AS st
      FROM t0
    ), tok AS (
      SELECT doc_id, unnest(st) AS tk
      FROM t WHERE len(st) > 0
    ), n AS (
      SELECT count(*) AS n_docs FROM t WHERE len(st) > 0
    ), rare AS (
      SELECT tk FROM tok, n GROUP BY tk, n_docs
      HAVING 1000 * count(*) <= 4 * n_docs
    ), tokf AS (
      SELECT doc_id, tk FROM tok WHERE tk IN (SELECT tk FROM rare)
    ), szs AS (
      SELECT doc_id, count(*) AS sz FROM tokf GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM tokf a JOIN tokf b ON a.tk = b.tk AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(i AS BIGINT) AS inter_sz,
           CAST(s.sz AS BIGINT) AS a_sz,
           CAST((1000000 * i) // s.sz AS BIGINT) AS containment_ppm
    FROM pairs JOIN szs s ON s.doc_id = da
    WHERE 10 * i >= 7 * s.sz
    """,
)
@_memo_plan_query("x_containment_join", ["documents"])
def x_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment >= 0.7 self-join over 3-shingle sets — the
    quote/subset-detection geometry Jaccard cannot surface (a short doc
    fully quoted inside a long one has containment 1.0 but arbitrarily
    low Jaccard).  Asymmetric prefix filtering
    (operators/dedup.py::containment_join_prefix): only the A side's
    rarest ``|A| - ceil(t|A|) + 1`` shingles enter the candidate join;
    the B side is a linear full index that is never self-joined.
    Shingles in > 0.4% of documents are boilerplate and excluded from
    the token universe (``max_df_permille=4``) — this hard-caps the
    per-token candidate fan-out at ``(0.004·n)²`` (the prefix theorem
    alone does not bound short documents' prefixes), and the corpus-
    relative form keeps the cutoff meaningful at any SF.  The oracle is
    from-scratch all-pairs containment over the SAME filtered universe
    in SQL — the result contract (boilerplate-free containment) is
    strategy-independent."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_join_prefix(
        docs, threshold_num=7, threshold_den=10, shingle_k=3,
        max_df_permille=4,
    )


@_register(
    "x_embedding_covariance",
    """
    WITH q AS (
      SELECT vec_id,
             unnest([{'i': CAST(i AS BIGINT),
                      'qv': CAST(floor(CAST(embedding[i] AS DOUBLE)
                                       * 16384) AS BIGINT)}
                     for i in range(1, len(embedding) + 1)],
                    recursive := true)
      FROM embeddings
    )
    SELECT a.i AS dim_i, b.i AS dim_j,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(a.qv) AS BIGINT) AS sum_qi,
           CAST(sum(b.qv) AS BIGINT) AS sum_qj,
           CAST(sum(a.qv * b.qv) AS BIGINT) AS sum_qiqj
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def x_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer covariance/Gram sufficient statistics of the
    embedding table in one pass — the distributed PCA/whitening fit
    (operators/similarity.py::covariance_stats_int): d(d+1)/2 = 2080
    upper-triangle rows of int64 ``(n, sum_qi, sum_qj, sum_qiqj)``
    under the house floor-quantization.  The executor kernel is an
    Arrow-batched int64 ``X^T X`` Gram accumulation emitting one
    fixed-size partial per partition; the oracle rebuilds the same
    sums from first principles via an unnest self-join (quadratic
    per-row fan-out — fine at sf0.01, exactly what the one-pass kernel
    avoids at scale).  covariance_from_stats() is the driver-side
    float estimator (sketch-estimator convention)."""
    embs = load_table(spark, sf_dir, "embeddings")
    return S.covariance_stats_int(embs, scale=16384)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled peeling oracle for x_kcore_dup_graph: the Jaccard>=0.5
    3-shingle pair CTEs (same construction as x_setsim_join's oracle)
    followed by ``rounds`` simultaneous peel rounds. Sound for any
    converged Spark run with fewer rounds — post-fixpoint peels are
    idempotent (measured convergence: 2 rounds at sf0.01 and sf0.1;
    6 unrolled for margin)."""
    peels = []
    prev = "a0"
    for r in range(1, rounds + 1):
        peels.append(
            f"""d{r} AS (
      SELECT s.u, count(*) AS deg FROM sym s
      JOIN {prev} x ON s.u = x.u JOIN {prev} y ON s.v = y.u
      GROUP BY s.u
    ), a{r} AS (SELECT u FROM d{r} WHERE deg >= {k})"""
        )
        prev = f"a{r}"
    peel_sql = ",\n    ".join(peels)
    return rf"""
    WITH t0 AS (
      SELECT doc_id,
             CASE WHEN trim(lower(coalesce(text, ''))) = ''
                  THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents
    ), t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i : i + 2], ' ')
                        for i in range(1, len(toks) - 1)]
                  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                  ELSE []::VARCHAR[] END) AS st
      FROM t0
    ), tok AS (
      SELECT doc_id, len(st) AS sz, unnest(st) AS tk
      FROM t WHERE len(st) > 0
    ), pr AS MATERIALIZED (
      -- MATERIALIZED: each unrolled peel round references sym; without
      -- the hint DuckDB re-inlines the all-pairs join per round
      -- (measured 211 s -> 0.7 s at sf0.01)
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i,
             any_value(a.sz) AS sza, any_value(b.sz) AS szb
      FROM tok a JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING 2 * count(*) >= (any_value(a.sz) + any_value(b.sz) - count(*))
    ), sym AS MATERIALIZED (
      SELECT da AS u, db AS v FROM pr
      UNION ALL
      SELECT db AS u, da AS v FROM pr
    ), a0 AS (SELECT DISTINCT u FROM sym),
    {peel_sql},
    dfin AS (
      SELECT s.u, count(*) AS deg FROM sym s
      JOIN {prev} x ON s.u = x.u JOIN {prev} y ON s.v = y.u
      GROUP BY s.u
    )
    SELECT CAST(u AS BIGINT) AS node, CAST(deg AS BIGINT) AS core_degree
    FROM dfin
    """


@_register("x_kcore_dup_graph", _kcore_oracle_sql(k=2, rounds=6))
def x_kcore_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the exact Jaccard>=0.5 near-dup pair graph
    (operators/graph.py::kcore_nodes over setsim_join_prefix pairs) —
    the precision-side complement to connected-component dup
    clustering: nodes that survive have TWO independent duplicate
    witnesses (every size->=3 clique), while transitive chains (A~B~C
    with A!~C — the drift that makes CC canonicalization over-merge)
    peel away.  Each peel round is two alive-set equi-semi-joins + a
    map-side-combined degree count + one bounded driver action (the
    monotone alive count); the oracle unrolls the same simultaneous
    peeling to a fixed round count, sound because post-fixpoint rounds
    are idempotent."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.setsim_join_prefix(
        docs, threshold_num=1, threshold_den=2, shingle_k=3
    )
    return G.kcore_nodes(pairs, k=2, src="doc_a", dst="doc_b")


@_register(
    "x_fd_profile",
    """
    WITH e1 AS (
      SELECT count(DISTINCT user_id) AS nd, count(*) AS rows_
      FROM events GROUP BY event_id
    ), e2 AS (
      SELECT count(DISTINCT event_type) AS nd, count(*) AS rows_
      FROM events GROUP BY user_id
    ), d1 AS (
      SELECT count(DISTINCT source) AS nd, count(*) AS rows_
      FROM documents GROUP BY lang
    ), o1 AS (
      SELECT count(DISTINCT o_orderpriority) AS nd, count(*) AS rows_
      FROM orders GROUP BY o_custkey
    )
    SELECT 'events:event_id->user_id' AS fd,
           CAST(count(*) AS BIGINT) AS lhs_groups,
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS violating_groups,
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN rows_ ELSE 0 END), 0)
                AS BIGINT) AS violating_rows,
           CAST(max(nd) AS BIGINT) AS max_rhs_variants
    FROM e1
    UNION ALL
    SELECT 'events:user_id->event_type', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN rows_ ELSE 0 END), 0) AS BIGINT),
           CAST(max(nd) AS BIGINT)
    FROM e2
    UNION ALL
    SELECT 'documents:lang->source', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN rows_ ELSE 0 END), 0) AS BIGINT),
           CAST(max(nd) AS BIGINT)
    FROM d1
    UNION ALL
    SELECT 'orders:o_custkey->o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN nd > 1 THEN rows_ ELSE 0 END), 0) AS BIGINT),
           CAST(max(nd) AS BIGINT)
    FROM o1
    """,
)
def x_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate functional-dependency profiling across three tables
    (operators/profile.py::fd_profile): one summary row per declared
    FD — lhs group count, violating groups/rows, worst-case distinct
    rhs per lhs.  The mix is deliberate: `event_id->user_id` HOLDS
    (event ids key their rows), the other three are violated at
    measurable rates — the discovery signal that decides which columns
    can key a dimension before a backfill assumes it.  Per FD: one
    map-side-combined lhs groupBy (the minimal exact check) + a 1-row
    reduction; |fds| rows total."""
    frames = {
        "events": load_table(spark, sf_dir, "events"),
        "documents": load_table(spark, sf_dir, "documents"),
        "orders": load_table(spark, sf_dir, "orders"),
    }
    return PR.fd_profile(
        frames,
        [
            ("events:event_id->user_id", "events", ["event_id"], "user_id"),
            ("events:user_id->event_type", "events", ["user_id"], "event_type"),
            ("documents:lang->source", "documents", ["lang"], "source"),
            (
                "orders:o_custkey->o_orderpriority",
                "orders",
                ["o_custkey"],
                "o_orderpriority",
            ),
        ],
    )


# ---------------------------------------------------------------------------
# Round-7: grid DBSCAN — density-based clustering (core/border/noise) over
# the quantized 2-D embedding projection; the density complement to
# kmeans_int and the LSH near-dup families. Oracle = from-scratch all-pairs
# Chebyshev neighbors + recursive-CTE density-connected components — the
# result contract is strategy-independent (the engine's grid join is just
# the scale-shaped candidate generator).
# ---------------------------------------------------------------------------


@_register(
    "x_dbscan_embedding",
    """
    WITH RECURSIVE q AS (
      SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 16384) AS BIGINT) AS x,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 16384) AS BIGINT) AS y
      FROM embeddings
    ), nb AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM q a JOIN q b
        ON a.vec_id != b.vec_id
       AND abs(a.x - b.x) <= 400 AND abs(a.y - b.y) <= 400
    ), cnt AS (
      SELECT q.vec_id, q.x, q.y, coalesce(c.n, 0) AS n
      FROM q LEFT JOIN (
        SELECT ia, count(*) AS n FROM nb GROUP BY 1
      ) c ON c.ia = q.vec_id
    ), core AS (
      SELECT vec_id FROM cnt WHERE n + 1 >= 5
    ), ce AS (
      SELECT ia AS s, ib AS d FROM nb
      WHERE ia IN (SELECT vec_id FROM core)
        AND ib IN (SELECT vec_id FROM core)
    ), cc(id, lab) AS (
      SELECT vec_id, vec_id FROM core
      UNION
      SELECT ce.d, cc.lab FROM cc JOIN ce ON ce.s = cc.id
    ), clab AS (
      SELECT id, min(lab) AS lab FROM cc GROUP BY id
    ), blab AS (
      SELECT nb.ia AS id, min(clab.lab) AS lab
      FROM nb JOIN clab ON clab.id = nb.ib
      WHERE nb.ia NOT IN (SELECT vec_id FROM core)
      GROUP BY 1
    )
    SELECT cnt.vec_id, cnt.x, cnt.y,
           CAST(cnt.n AS BIGINT) AS n_neighbors,
           CASE WHEN cl.lab IS NOT NULL THEN 'core'
                WHEN bl.lab IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(coalesce(cl.lab, bl.lab, -1) AS BIGINT) AS cluster
    FROM cnt
    LEFT JOIN clab cl ON cl.id = cnt.vec_id
    LEFT JOIN blab bl ON bl.id = cnt.vec_id
    """,
)
def x_dbscan_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over the quantized (dim0, dim1) embedding projection
    (operators/similarity.py::dbscan_grid): Chebyshev ε=400 quantization
    units, min_pts=5 — every point labeled core/border/noise with its
    density-connected cluster (MIN core id; borders take the MIN over
    adjacent cores; noise -1).  The engine generates neighbor candidates
    with the eps-sided uniform-grid spatial equi-join (3x3 probe
    replication of an id+coords projection, exact integer box verify;
    never all-pairs); the oracle recomputes the identical contract from
    scratch with an all-pairs join + recursive-CTE connectivity."""
    embs = load_table(spark, sf_dir, "embeddings")
    return S.dbscan_grid(embs, eps=400, min_pts=5)


@_register(
    "x_dup_graph_radius",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    n AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM n
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    ),
    comp AS (SELECT id, min(lab) AS lab FROM cc GROUP BY id),
    reps AS (SELECT id FROM comp WHERE id = lab),
    bfs(id, hop) AS (
      SELECT id, 0 FROM reps
      UNION
      SELECT e.d, bfs.hop + 1 FROM bfs JOIN e ON e.s = bfs.id
      WHERE bfs.hop < 8
    )
    SELECT id AS doc_id, CAST(min(hop) AS BIGINT) AS hop
    FROM bfs GROUP BY id
    """,
)
def x_dup_graph_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance of every near-dup-graph document from its cluster's
    canonical (min-id) representative — multi-source BFS
    (operators/graph.py::bfs_hops) seeded at the component reps of the
    exact-verified minhash pair graph.  The chain-length diagnostic for
    transitive over-merge: kcore answers "dense duplicate witnesses?",
    this answers "how many weak links from canonical?" — hop >= 2 in a
    2-core-empty cluster marks the drift-merge suspects.  Both BFS
    strategies (bounded driver / bulk-synchronous frontier rounds)
    RAISE past max_hops rather than silently truncating; the oracle
    replays the identical contract as a hop-bounded recursive CTE with
    min-hop contraction."""
    pairs = D.dedup_near_minhash(
        load_table(spark, sf_dir, "documents"),
        num_hashes=64,
        bands=32,
        threshold=0.5,
    )
    # TWO consumers (component seeds + the BFS itself) over the
    # expensive minhash candidate pipeline — the triangle_counts persist
    # rule (upstream cost, not consumer count). Measured warm at sf0.1:
    # 3.3-3.6 s unpersisted (two full minhash passes) -> 2.5 s.
    pairs = pairs.persist()
    cache_registry.track(pairs)
    comp = G.connected_components(pairs, src="id_a", dst="id_b")
    seeds = comp.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias("node")
    )
    return G.bfs_hops(pairs, seeds, src="id_a", dst="id_b", max_hops=8).select(
        F.col("node").alias("doc_id"), "hop"
    )


@_register(
    "x_decay_error_pressure",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events),
    a AS (
      SELECT event_type,
             ((mx_us - epoch_us(ts)) // 86400000000) // 7 AS hl
      FROM events, mx
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN hl > 62 THEN 0
                         ELSE 1000000 // (1 << hl) END) AS BIGINT)
             AS weighted_pressure
    FROM a GROUP BY 1
    """,
)
def x_decay_error_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted event pressure per type
    (operators/temporal.py::decay_weighted_counts, half-life 7 days):
    each event weighs ``1e6 DIV 2^(age_days DIV 7)`` behind the corpus
    max timestamp — stepped power-of-two decay, the integer-exact form
    of exponential recency weighting (float ``pow`` would break the
    cross-engine hash gate).  The fix for plain A1 counts ranking a
    long-dead error storm above a small active one.  One scan, 1-row
    broadcast anchor, map-side-combined groupBy."""
    return T.decay_weighted_counts(
        load_table(spark, sf_dir, "events"),
        group_cols=["event_type"],
        ts_col="ts",
        half_life_days=7,
    )


@_register(
    "x_mg_heavy_hitters",
    """
    SELECT CAST(event_type AS VARCHAR) AS item,
           CAST(count(*) AS BIGINT) AS count_lower
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1
    """,
)
def x_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitter summary over event types
    (operators/sketches.py::mg_summary, k=64) — the DETERMINISTIC
    frequency sketch next to CMS's probabilistic one: certified lower
    bounds with a self-certifying error ``(n - sum(counts))/(k+1)``.
    Declared with k well above the distinct-type count, so no decrement
    fires and the summary is EXACTLY the per-type counts — the full
    machinery (per-partition batch-fold MG, groupBy-sum merge, (k+1)-th
    -largest subtraction) runs and is hash-checked cross-engine; the
    decrement regime's bounds are property-tested in
    tests/test_sketches.py."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    return SK.mg_summary(
        load_table(spark, sf_dir, "events"), key="event_type", k=64
    )


@_register(
    "x_mg_daily_hitters",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(event_type AS VARCHAR) AS item,
           CAST(count(*) AS BIGINT) AS count_lower
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def x_mg_daily_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Misra-Gries heavy hitters (grouped mg_summary, k=64) —
    one deterministic k-bounded summary per day, mergeable to any
    coarser granularity by mg_merge (groupBy-sum + per-group (k+1)-th
    -largest subtraction; the self-certifying error bound survives the
    merge — property-tested).  Exact regime here (k >= per-day distinct
    types), so the grouped machinery is hash-checked cross-engine."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return SK.mg_summary(ev, key="event_type", k=64, group_cols=["day"])


@_register(
    "x_space_saving_topk",
    """
    SELECT CAST(event_type AS VARCHAR) AS item,
           CAST(count(*) AS BIGINT) AS count_upper,
           CAST(0 AS BIGINT) AS err_upper
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1
    ORDER BY count_upper DESC, item
    LIMIT 64
    """,
)
def x_space_saving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-Saving top-k over event types
    (operators/sketches.py::ss_summary, k=64) — the UPPER-bound dual of
    x_mg_heavy_hitters: every emitted count certifies
    ``count_upper >= true >= count_upper - err_upper``, bracketing the
    true frequency from both sides across the two deterministic
    sketches.  Declared with k well above the distinct-type count, so
    no eviction fires, every partition residual is 0, and the result is
    EXACTLY the top-k per-type counts — the full machinery
    (per-partition stream-summary fold, residual-marker total, absent-
    partition bound arithmetic, TakeOrdered contraction) runs and is
    hash-checked cross-engine; the eviction regime's bounds are
    property-tested in tests/test_sketches.py."""
    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    return SK.ss_summary(
        load_table(spark, sf_dir, "events"), key="event_type", k=64
    )


@_register("x_kll_grouped")  # rows-only: KLL compaction is not SQL-expressible
def x_kll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KLL quantiles (p50/p90/p99 of event value,
    k=200) — the grouped form of x_kll_quantiles: one deterministic
    compactor per (group, hash-bucket), hash-partitioned so every
    group's insertion order is its own pseudo-random shuffle
    independent of partition layout and co-resident groups, merged
    driver-side per group in bucket order.  Bounded-collect contract is
    groups x buckets x O(k log(n/k)) rows, guarded by a max_groups
    probe that RAISES on unbounded group domains.  Rows-only like the
    global build (compaction is order-dependent, not SQL-expressible);
    distributed-vs-local-replay equality and per-group accuracy are
    differential-tested in tests/test_quantiles.py."""
    from kafka_dead_letter_analyzer_spark.operators import quantiles as QT

    ev = load_table(spark, sf_dir, "events")
    return QT.kll_quantiles_grouped(
        ev,
        key="event_id",
        value_col="value",
        group_cols=["event_type"],
        k=200,
        buckets=4,
    )


@_register(
    "x_auc_global",
    """
    WITH c AS (
      SELECT n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
      GROUP BY 1
    ), w AS (
      SELECT pos, neg,
             CAST(COALESCE(sum(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_lt
      FROM c
    ), agg AS (
      SELECT CAST(sum(pos * (2 * cum_lt + neg)) AS BIGINT) AS u2,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg
      FROM w
    )
    SELECT u2, n_pos, n_neg,
           CAST(((u2 * 1000) // (2 * n_pos * n_neg)) * 1000
             + (((u2 * 1000) % (2 * n_pos * n_neg)) * 1000)
               // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
)
def x_auc_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level AUC (Mann-Whitney U) of document length as a
    discriminator of English documents — the quality-classifier audit
    primitive (operators/ranking.py::auc_exact), global path: the
    cumulative-negatives prefix runs as a TWO-PHASE range prefix sum
    (range-partitioned distinct-score table, per-partition local prefix,
    one-row-per-partition offset broadcast) — no single-task window at
    any score cardinality, and the result is independent of the sampled
    range boundaries.  U2 doubles the U statistic so tie half-credit
    stays integer; auc_ppm = floor(u2 * 1e6 / (2 * n_pos * n_neg)) via
    TWO-STEP long division (no intermediate beyond 2*n_pos*n_neg*1000,
    exact to n_pos*n_neg < 2^63/2000 with a raise_error guard past it)
    keeps the surface BIGINT-exact cross-engine."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    return RK.auc_exact(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
    )


@_register(
    "x_auc_by_source",
    """
    WITH c AS (
      SELECT source, n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
      GROUP BY 1, 2
    ), w AS (
      SELECT source, pos, neg,
             CAST(COALESCE(sum(neg) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_lt
      FROM c
    ), agg AS (
      SELECT source,
             CAST(sum(pos * (2 * cum_lt + neg)) AS BIGINT) AS u2,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg
      FROM w GROUP BY 1
    )
    SELECT source, u2, n_pos, n_neg,
           CAST(((u2 * 1000) // (2 * n_pos * n_neg)) * 1000
             + (((u2 * 1000) % (2 * n_pos * n_neg)) * 1000)
               // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
)
def x_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact AUC of document length vs English label —
    auc_exact's grouped path: the cumulative window PARTITIONS on the
    group columns, so each source's (bounded) distinct-score domain
    sorts in its own task, parallel across sources, never a global
    sort.  Groups with an empty class drop (AUC undefined there)."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    def build():
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("lang").isNotNull() & F.col("source").isNotNull()
        )
        return RK.auc_exact(
            docs.withColumn("is_en", F.col("lang") == "en"),
            score_col="n_chars",
            label_col="is_en",
            group_cols=["source"],
        )

    # r14: built plan memoized (see _memo_plan) — construction re-paid
    # auc_exact's strategy probe scan per invocation
    return _memo_plan(spark, sf_dir, "x_auc_by_source", ["documents"], build)


@_register(
    "x_roc_curve",
    """
    WITH c AS (
      SELECT source, n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS neg
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
      GROUP BY 1, 2
    ), w AS (
      SELECT source, s,
             CAST(COALESCE(sum(pos) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_pos_lt,
             CAST(COALESCE(sum(neg) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_neg_lt,
             CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT) AS n_pos,
             CAST(sum(neg) OVER (PARTITION BY source) AS BIGINT) AS n_neg
      FROM c
    )
    SELECT source, s,
           CAST(n_pos - cum_pos_lt AS BIGINT) AS tp,
           CAST(n_neg - cum_neg_lt AS BIGINT) AS fp,
           cum_pos_lt AS fn,
           cum_neg_lt AS tn
    FROM w
    """,
)
def x_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-source ROC operating table of document length as an
    English-document gate (operators/ranking.py::roc_curve_points):
    one exact integer (tp, fp, fn, tn) row per distinct length
    threshold — x_auc_by_source compresses this curve to one number;
    threshold SELECTION ("gate the corpus at length s: what do
    precision and recall become?") needs the curve itself.  Plan: the
    same per-score contraction as AUC, one per-source cumulative
    window carrying both class sums; the output IS the contraction, so
    the operator probes and RAISES past max_points instead of offering
    a two-phase path (a curve too big to sort is too big to return —
    quantize first)."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    return RK.roc_curve_points(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        group_cols=["source"],
    )


@_register(
    "x_funnel_conversion",
    """
    WITH ev AS (
      SELECT user_id AS k, event_type AS st, epoch_us(ts) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN ('view', 'click', 'purchase')
    ), w0 AS (
      SELECT *, min(CASE WHEN st = 'view' THEN us END)
        OVER (PARTITION BY k) AS t0 FROM ev
    ), w1 AS (
      SELECT *, min(CASE WHEN st = 'click' AND us > t0
        AND us <= t0 + 259200000000 THEN us END)
        OVER (PARTITION BY k) AS t1 FROM w0
    ), w2 AS (
      SELECT *, min(CASE WHEN st = 'purchase' AND us > t1
        AND us <= t1 + 259200000000 THEN us END)
        OVER (PARTITION BY k) AS t2 FROM w1
    ), pk AS (
      SELECT k, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
      FROM w2 GROUP BY 1
    ), tot AS (
      SELECT
        CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS u0,
        CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2
      FROM pk
    ), stacked AS (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             u0 AS users, u0 AS base FROM tot
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click', u1, u0 FROM tot
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase', u2, u0 FROM tot
    )
    SELECT step_idx, step, users,
           CAST(CASE WHEN base = 0 THEN 0 ELSE
             ((users * 1000) // base) * 1000
             + (((users * 1000) % base) * 1000) // base END
             AS BIGINT) AS conv_ppm
    FROM stacked
    """,
)
def x_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel over user event logs,
    each step within 72h of the previous
    (operators/temporal.py::funnel_steps): users reaching each step
    under FIRST-TOUCH anchoring (step i = earliest event strictly
    after step i-1's anchor; with the time bound this is the standard
    product-analytics convention, not an any-anchor search — see the
    operator docstring), conversion vs step 1 as
    two-step-division ppm.  STRATEGY IS PROBED (round 9): one
    column-pruned partial-agg scan measures the steps' coverage of
    the table and picks the per-stage parquet-pushdown JOIN CHAIN
    when the steps are selective slivers, the single-scan WINDOW
    CHAIN otherwise — on this fixture coverage is ~60%, so the plan
    is one hash exchange on user_id, three chained UNORDERED window
    minima (no sort anywhere), one per-user aggregate, a 3-row stack.
    Both strategies are differential-equal and both carry the 72h
    within-bound (the join chain applies it on the post-join filter).
    The probe job is the documented price of the scale-correct pick
    (the spearman/auc pattern)."""
    from kafka_dead_letter_analyzer_spark.operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    return T.funnel_steps(
        ev,
        steps=["view", "click", "purchase"],
        within_us=259_200_000_000,
    )


def x_funnel_conversion_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_funnel_conversion FORCED onto the join-chain strategy — and
    registered with the SAME oracle SQL as the window-chain query ON
    PURPOSE (the x_contamination_prefiltered trick): the driver's
    hash gate itself proves the two physical strategies compute
    identical funnels, at gate scale, every round.  Plan: one
    type-pushed parquet scan per stage chained by user-keyed
    equi-joins with the 72h bound on the post-join filter
    (plan-pinned in tests/test_plan_shapes.py)."""
    from kafka_dead_letter_analyzer_spark.operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    return T.funnel_steps(
        ev,
        steps=["view", "click", "purchase"],
        within_us=259_200_000_000,
        strategy="joins",
    )


_QUERIES["x_funnel_conversion_joins"] = x_funnel_conversion_joins
_ORACLES["x_funnel_conversion_joins"] = _ORACLES["x_funnel_conversion"]


@_register(
    "x_funnel_any_anchor",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN ('view', 'click', 'purchase')
    ), u0 AS (
      SELECT DISTINCT user_id FROM ev WHERE event_type = 'view'
    ), cf AS (
      SELECT DISTINCT c.user_id, c.us
      FROM ev c JOIN ev v
        ON v.user_id = c.user_id
       AND v.event_type = 'view' AND c.event_type = 'click'
       AND c.us > v.us AND c.us <= v.us + 259200000000
    ), u1 AS (SELECT DISTINCT user_id FROM cf),
    u2 AS (
      SELECT DISTINCT p.user_id
      FROM ev p JOIN cf
        ON cf.user_id = p.user_id
       AND p.event_type = 'purchase'
       AND p.us > cf.us AND p.us <= cf.us + 259200000000
    ), tot AS (
      SELECT CAST((SELECT count(*) FROM u0) AS BIGINT) AS c0,
             CAST((SELECT count(*) FROM u1) AS BIGINT) AS c1,
             CAST((SELECT count(*) FROM u2) AS BIGINT) AS c2
    ), stacked AS (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             c0 AS users, c0 AS base FROM tot
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click', c1, c0 FROM tot
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase', c2, c0 FROM tot
    )
    SELECT step_idx, step, users,
           CAST(CASE WHEN base = 0 THEN 0 ELSE
             ((users * 1000) // base) * 1000
             + (((users * 1000) % base) * 1000) // base END
             AS BIGINT) AS conv_ppm
    FROM stacked
    """,
)
def x_funnel_any_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-ANCHOR view -> click -> purchase funnel, each step within
    72h of SOME feasible previous anchor
    (operators/temporal.py::funnel_steps_any_anchor): the exhaustive
    complement of x_funnel_conversion's first-touch convention — a
    user whose earliest view is stale but who completes via a later
    view counts as converting here.  Plan: one hash exchange on
    user_id into an Arrow-batched per-key feasibility sweep
    (sorted-array binary searches propagate the feasible-anchor set
    step to step — O(E log E) per key, not the naive quadratic), with
    a max_events_per_key raise as the per-task memory contract; the
    oracle expresses the same semantics as chained DISTINCT
    feasible-anchor joins (quadratic, fine at oracle scale)."""
    from kafka_dead_letter_analyzer_spark.operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    return T.funnel_steps_any_anchor(
        ev,
        steps=["view", "click", "purchase"],
        within_us=259_200_000_000,
    )


@_register(
    "x_funnel_sessions",
    """
    WITH ev AS (
      SELECT user_id AS k, event_type AS st, epoch_us(ts) AS us
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN ('view', 'click', 'purchase')
    ), b AS (
      SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 21600000000
                THEN 1 ELSE 0 END AS bnd
      FROM ev WINDOW w AS (PARTITION BY k ORDER BY us)
    ), s AS (
      SELECT *, sum(bnd) OVER (PARTITION BY k ORDER BY us
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM b
    ), w0 AS (
      SELECT *, min(CASE WHEN st = 'view' THEN us END)
        OVER (PARTITION BY k, sess) AS t0 FROM s
    ), w1 AS (
      SELECT *, min(CASE WHEN st = 'click' AND us > t0 THEN us END)
        OVER (PARTITION BY k, sess) AS t1 FROM w0
    ), w2 AS (
      SELECT *, min(CASE WHEN st = 'purchase' AND us > t1 THEN us END)
        OVER (PARTITION BY k, sess) AS t2 FROM w1
    ), pk AS (
      SELECT k, sess, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
      FROM w2 GROUP BY 1, 2
    ), tot AS (
      SELECT
        CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS u0,
        CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2
      FROM pk
    ), stacked AS (
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
             u0 AS sessions, u0 AS base FROM tot
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click', u1, u0 FROM tot
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase', u2, u0 FROM tot
    )
    SELECT step_idx, step, sessions,
           CAST(CASE WHEN base = 0 THEN 0 ELSE
             ((sessions * 1000) // base) * 1000
             + (((sessions * 1000) % base) * 1000) // base END
             AS BIGINT) AS conv_ppm
    FROM stacked
    """,
)
def x_funnel_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZED view -> click -> purchase funnel with a 6-hour
    session gap (operators/temporal.py::funnel_steps_sessionized):
    the per-VISIT conversion complement of x_funnel_conversion's
    per-user funnel — the first-touch chain restarts whenever a key
    goes quiet for more than the gap, and the counting unit is the
    (user, session) pair.  Plan: ONE hash exchange on user_id shared
    by the gaps-and-islands session index and the k chained unordered
    per-(key, session) window minima (hash(k) clusters (k, sess) —
    only a local re-sort, pinned), then a per-session aggregate and a
    1-row total.  The streaming twin is
    streaming/engine.py::streaming_funnel_sessions
    (differential-tested)."""
    from kafka_dead_letter_analyzer_spark.operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    return T.funnel_steps_sessionized(
        ev,
        steps=["view", "click", "purchase"],
        gap_us=21_600_000_000,
    )


@_register(
    "x_f1_threshold",
    """
    WITH c AS (
      SELECT source, n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS neg
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
      GROUP BY 1, 2
    ), w AS (
      SELECT source, s,
             CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT)
               - CAST(COALESCE(sum(pos) OVER (PARTITION BY source
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                 PRECEDING), 0) AS BIGINT) AS tp,
             CAST(sum(neg) OVER (PARTITION BY source) AS BIGINT)
               - CAST(COALESCE(sum(neg) OVER (PARTITION BY source
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                 PRECEDING), 0) AS BIGINT) AS fp,
             CAST(COALESCE(sum(pos) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS fn
      FROM c
    ), scored AS (
      SELECT source, s, tp, fp, fn,
             CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE
               ((2 * tp * 1000) // (2 * tp + fp + fn)) * 1000
               + (((2 * tp * 1000) % (2 * tp + fp + fn)) * 1000)
                 // (2 * tp + fp + fn) END AS BIGINT) AS f1_ppm
      FROM w
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY f1_ppm DESC, s ASC) AS rn
      FROM scored
    )
    SELECT source, s AS threshold, tp, fp, fn, f1_ppm
    FROM ranked WHERE rn = 1
    """,
)
@_memo_plan_query("x_f1_threshold", ["documents"])
def x_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-optimal gating threshold per source — the decision layer on
    top of x_roc_curve: for each source, the score threshold whose
    "predict positive when n_chars >= s" rule maximizes F1 =
    2tp/(2tp+fp+fn), with the F1 emitted as a two-step-division ppm
    (ties break to the LOWEST threshold — deterministic on both
    engines at ppm resolution).  This is the query a quality-filter
    deployment actually runs after auditing the curve: one number per
    source to put in the gate config.  Plan: the ROC contraction and
    windows (roc_curve_points), one f1_ppm projection, one per-source
    row_number argmax — everything contraction-sized after the single
    full-data shuffle."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    curve = RK.roc_curve_points(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        group_cols=["source"],
    )
    scored = curve.withColumn(
        "f1_ppm",
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE"
            " ((2 * tp * 1000) DIV (2 * tp + fp + fn)) * 1000"
            " + (((2 * tp * 1000) % (2 * tp + fp + fn)) * 1000)"
            " DIV (2 * tp + fp + fn) END AS BIGINT)"
        ),
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy(
                F.desc("f1_ppm"), F.asc("s")
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "source",
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        "fn",
        "f1_ppm",
    )


@_register(
    "x_calibration_bins",
    """
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS s, (lang = 'en') AS y
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), mm AS (
      SELECT source, min(s) AS lo, max(s) AS hi FROM c GROUP BY 1
    ), binned AS (
      SELECT c.source,
             ((c.s - m.lo) * 8) // (m.hi - m.lo + 1) AS bin,
             m.lo AS lo, m.hi AS hi, c.y
      FROM c JOIN mm m ON m.source = c.source
    ), agg AS (
      SELECT source, CAST(bin AS BIGINT) AS bin,
             CAST(min(lo) + (bin * (min(hi) - min(lo) + 1)) // 8
               AS BIGINT) AS bin_lo,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
      FROM binned GROUP BY source, bin
    )
    SELECT source, bin, bin_lo, n, n_pos,
           CAST(((n_pos * 1000) // n) * 1000
             + (((n_pos * 1000) % n) * 1000) // n AS BIGINT)
             AS pos_rate_ppm
    FROM agg
    """,
)
def x_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the n_chars score against the
    English-language label, 8 equal-width bins per source
    (operators/ranking.py::calibration_bins): does a score bin's
    empirical positive rate track its position — the calibration
    member of the scorer-audit family (AUC/ROC say the score RANKS;
    this says what a bin MEANS before a threshold gates 100 TB on
    it).  Every division is non-negative two-step integer long
    division (trunc == floor, so Spark DIV and DuckDB // agree);
    plan is one min/max contraction joined back (wrap-proof span
    guard) + one map-side-combined (source, bin) aggregate —
    bins-bounded output."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    return RK.calibration_bins(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        group_cols=["source"],
        bins=8,
    )


@_register(
    "x_dedup_agreement",
    f"""
    WITH {_MINHASH_CTES},
    allpairs AS ({_MINHASH_PAIRS_SELECT}),
    fp AS (
      SELECT doc_id, source,
             md5(regexp_replace(lower(coalesce(text, '')),
                                '[^a-z0-9]', '', 'g')) AS f
      FROM documents WHERE source IS NOT NULL
    ), fc AS (
      SELECT f, CAST(count(*) AS BIGINT) AS nc FROM fp GROUP BY 1
    ), pairs AS (
      -- the SHARED verified pair set (x_dedup_minhash's oracle),
      -- endpoint-restricted to the filtered doc set: jaccard is a
      -- pairwise property, so this equals recomputing pairs over the
      -- filtered docs (which is what the Spark side does)
      SELECT id_a, id_b FROM allpairs
      WHERE id_a IN (SELECT doc_id FROM fp)
        AND id_b IN (SELECT doc_id FROM fp)
    ), flagged AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM pairs
        UNION ALL SELECT id_b FROM pairs)
    ), base AS (
      SELECT fp.source,
             CASE WHEN fc.nc > 1 THEN 'dup' ELSE 'uniq' END AS a,
             CASE WHEN fl.doc_id IS NOT NULL THEN 'dup' ELSE 'uniq'
               END AS b
      FROM fp JOIN fc USING (f)
      LEFT JOIN flagged fl ON fl.doc_id = fp.doc_id
    ), cells AS (
      SELECT source, a, b, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
               AS agree
      FROM cells GROUP BY 1
    ), rm AS (
      SELECT source, a AS cat, CAST(sum(c) AS BIGINT) AS r
      FROM cells GROUP BY 1, 2
    ), cm AS (
      SELECT source, b AS cat, CAST(sum(c) AS BIGINT) AS cc
      FROM cells GROUP BY 1, 2
    ), srcs AS (
      SELECT rm.source, CAST(sum(rm.r * cm.cc) AS BIGINT) AS s_rc
      FROM rm JOIN cm ON cm.source = rm.source AND cm.cat = rm.cat
      GROUP BY 1
    )
    SELECT t.source, t.n, t.agree,
           CAST(((t.agree * 1000) // t.n) * 1000
             + (((t.agree * 1000) % t.n) * 1000) // t.n AS BIGINT)
             AS po_ppm,
           CAST(((COALESCE(srcs.s_rc, 0) * 1000) // (t.n * t.n)) * 1000
             + (((COALESCE(srcs.s_rc, 0) * 1000) % (t.n * t.n)) * 1000)
               // (t.n * t.n) AS BIGINT) AS pe_ppm
    FROM tot t LEFT JOIN srcs ON srcs.source = t.source
    """,
)
def x_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kappa agreement between the CHEAP and EXPENSIVE dedup
    strategies' per-doc flags, per source — "how much of what minhash
    near-dup flags would exact-fingerprint dedup already catch":
    rater A = in an exact normalized-content duplicate group, rater B
    = endpoint of any verified minhash near-dup pair (j >= 0.5).
    The composition audit a pipeline runs before dropping the
    expensive pass on a new corpus slice.  Plan: the exact-dedup
    fingerprint contraction + the banded minhash candidate join (both
    audited operators), two boolean flags joined onto the doc set,
    then cohens_kappa's single contingency contraction."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    def build():
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("source").isNotNull()
        )
        fp = docs.select(
            "doc_id",
            "source",
            F.md5(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    "[^a-z0-9]",
                    "",
                )
            ).alias("f"),
        )
        fc = fp.groupBy("f").agg(
            F.count(F.lit(1)).cast("bigint").alias("nc")
        )
        pairs = D.dedup_near_minhash(
            docs, num_hashes=64, bands=32, threshold=0.5
        )
        flagged = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .withColumn("_fl", F.lit(1))
        )
        base = (
            fp.join(fc, "f")
            .join(flagged, "doc_id", "left")
            .select(
                "source",
                F.when(F.col("nc") > 1, F.lit("dup"))
                .otherwise(F.lit("uniq"))
                .alias("a"),
                F.when(F.col("_fl").isNotNull(), F.lit("dup"))
                .otherwise(F.lit("uniq"))
                .alias("b"),
            )
        )
        return RK.cohens_kappa(base, "a", "b", group_cols=["source"])

    # r14: built plan memoized (see _memo_plan) — the minhash banding
    # UDF + kappa plan build dominated repeat construction
    return _memo_plan(
        spark, sf_dir, "x_dedup_agreement", ["documents"], build
    )


@_register(
    "x_script_mix",
    f"""
    WITH scored AS (
      SELECT source,
             {TX.dominant_script_sql('text')} AS script,
             {TX.script_counts_sql('text')['latin']} AS n_latin,
             {TX.script_counts_sql('text')['cyrillic']} AS n_cyrillic,
             {TX.script_counts_sql('text')['cjk']} AS n_cjk
      FROM documents
      WHERE source IS NOT NULL
    )
    SELECT source, script,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_latin) AS BIGINT) AS latin_chars,
           CAST(sum(n_cyrillic) AS BIGINT) AS cyrillic_chars,
           CAST(sum(n_cjk) AS BIGINT) AS cjk_chars
    FROM scored
    GROUP BY 1, 2
    """,
)
def x_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system mix per source
    (operators/text.py::with_script_profile): dominant-script doc
    counts plus per-script character mass — the routing decision a
    multilingual pipeline makes BEFORE language-id (the stopword
    lang-id only separates Latin-script languages; everything else
    lands in 'und' without this).  Pure codegen regexp counts (one
    per BMP script range, Java and RE2 classes pinned character for
    character), one map-side-combined (source, script) aggregate."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    prof = TX.with_script_profile(docs.select("source", "text"))
    return prof.groupBy("source", "script").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_latin").cast("bigint").alias("latin_chars"),
        F.sum("n_cyrillic").cast("bigint").alias("cyrillic_chars"),
        F.sum("n_cjk").cast("bigint").alias("cjk_chars"),
    )


@_register(
    "x_vocab_richness",
    r"""
    WITH toks AS (
      SELECT lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
      WHERE trim(lower(coalesce(text, ''))) != ''
    ), c AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS n
      FROM toks WHERE token != '' GROUP BY lang, token
    ), agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM c GROUP BY lang
    )
    SELECT lang, vocab, n_tokens, f1, f2,
           CAST(vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
             AS chao1_est,
           CAST(((f1 * 1000) // n_tokens) * 1000
             + (((f1 * 1000) % n_tokens) * 1000) // n_tokens AS BIGINT)
             AS unseen_mass_ppm
    FROM agg
    """,
)
def x_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness and coverage per language — the "is the
    corpus big enough for the tokenizer" audit: observed vocabulary,
    token count, singleton/doubleton counts, the bias-corrected Chao1
    total-vocabulary estimate ``vocab + f1(f1-1)/(2(f2+1))`` (all
    integer arithmetic — the correction term is a plain floor
    division of non-negative ints), and the Good-Turing unseen-mass
    estimate ``f1/N`` as two-step-division ppm (the probability the
    NEXT token drawn is a never-seen type).  Scale shape: the same
    map-side-combined (lang, token) contraction x_token_vocab_topk
    uses — the combiner collapses each partition's token stream to a
    local vocabulary before the ONE hash exchange; everything after
    is contraction-sized.  Guards are structural: f1(f1-1) wraps only
    past ~3e9 singleton types per language (a vocabulary no corpus
    has); unseen_mass uses the shared two-step ppm."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(D._tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    c = toks.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    from kafka_dead_letter_analyzer_spark.operators.common import ppm2

    agg = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return agg.select(
        "lang",
        "vocab",
        "n_tokens",
        "f1",
        "f2",
        F.expr("vocab + (f1 * (f1 - 1)) DIV (2 * (f2 + 1))")
        .cast("bigint")
        .alias("chao1_est"),
        F.expr(ppm2("f1", "n_tokens"))
        .cast("bigint")
        .alias("unseen_mass_ppm"),
    )


@_register(
    "x_lang_confusion",
    f"""
    WITH base AS (
      SELECT source, lang AS truth, {TX.lang_id_sql('text')} AS pred
      FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
        AND text IS NOT NULL
    )
    SELECT source, truth, pred, CAST(count(*) AS BIGINT) AS n
    FROM base GROUP BY 1, 2, 3
    """,
)
def x_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic lang-id against the lang
    column per source — the cell-level companion of
    x_rater_agreement's kappa (which cells drive the disagreement).
    One map-side-combined (source, truth, pred) contraction; output
    bounded by the label-pair domain."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
        & F.col("source").isNotNull()
        & F.col("text").isNotNull()
    )
    pred = TX.with_lang_id(docs.select("source", "lang", "text"))
    return pred.groupBy(
        "source",
        F.col("lang").alias("truth"),
        F.col("pred_lang").alias("pred"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@_register(
    "x_rater_agreement",
    f"""
    WITH base AS (
      SELECT source, lang AS a, {TX.lang_id_sql('text')} AS b
      FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
        AND text IS NOT NULL
    ), cells AS (
      SELECT source, a, b, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
               AS agree
      FROM cells GROUP BY 1
    ), rm AS (
      SELECT source, a AS cat, CAST(sum(c) AS BIGINT) AS r
      FROM cells GROUP BY 1, 2
    ), cm AS (
      SELECT source, b AS cat, CAST(sum(c) AS BIGINT) AS cc
      FROM cells GROUP BY 1, 2
    ), s AS (
      SELECT rm.source, CAST(sum(rm.r * cm.cc) AS BIGINT) AS s_rc
      FROM rm JOIN cm ON cm.source = rm.source AND cm.cat = rm.cat
      GROUP BY 1
    )
    SELECT t.source, t.n, t.agree,
           CAST(((t.agree * 1000) // t.n) * 1000
             + (((t.agree * 1000) % t.n) * 1000) // t.n AS BIGINT)
             AS po_ppm,
           CAST(((COALESCE(s.s_rc, 0) * 1000) // (t.n * t.n)) * 1000
             + (((COALESCE(s.s_rc, 0) * 1000) % (t.n * t.n)) * 1000)
               // (t.n * t.n)
             AS BIGINT) AS pe_ppm
    FROM tot t LEFT JOIN s ON s.source = t.source
    """,
)
def x_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa sufficient statistics between the documents'
    ``lang`` column and the heuristic lang-id prediction, per source
    (operators/ranking.py::cohens_kappa over
    operators/text.py::with_lang_id): the swap-a-classifier audit —
    observed vs chance agreement as exact ppm integers; kappa =
    (po - pe)/(1 - pe) is caller-side (it can be negative, and the
    declared surface stays non-negative so Spark DIV and DuckDB //
    agree).  Plan: one (source, lang, pred) contraction shuffle, then
    contraction-sized marginal joins."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
        & F.col("source").isNotNull()
        & F.col("text").isNotNull()
    )
    pred = TX.with_lang_id(docs.select("source", "lang", "text"))
    return RK.cohens_kappa(
        pred, rater_a="lang", rater_b="pred_lang", group_cols=["source"]
    )



def _register_gwet_ac1():
    sql = f"""
    WITH base AS (
      SELECT source, lang AS a, {TX.lang_id_sql('text')} AS b
      FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
        AND text IS NOT NULL
    ), cells AS (
      SELECT source, a, b, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
               AS agree
      FROM cells GROUP BY 1
    ), rm AS (
      SELECT source, a AS cat, CAST(sum(c) AS BIGINT) AS r
      FROM cells GROUP BY 1, 2
    ), cm AS (
      SELECT source, b AS cat, CAST(sum(c) AS BIGINT) AS cc
      FROM cells GROUP BY 1, 2
    ), marg AS (
      SELECT COALESCE(rm.source, cm.source) AS source,
             COALESCE(rm.cat, cm.cat) AS cat,
             CAST(COALESCE(rm.r, 0) + COALESCE(cm.cc, 0) AS BIGINT)
               AS m
      FROM rm FULL OUTER JOIN cm
        ON cm.source = rm.source AND cm.cat = rm.cat
    ), s AS (
      SELECT mg.source,
             CAST(count(*) AS BIGINT) AS q_cats,
             CAST(sum(mg.m * (2 * t.n - mg.m)) AS BIGINT) AS s_m
      FROM marg mg JOIN tot t ON t.source = mg.source
      GROUP BY 1
    )
    SELECT t.source, t.n, t.agree,
           CAST(COALESCE(s.q_cats, 0) AS BIGINT) AS q_cats,
           CAST(((t.agree * 1000) // t.n) * 1000
             + (((t.agree * 1000) % t.n) * 1000) // t.n AS BIGINT)
             AS po_ppm,
           CASE WHEN COALESCE(s.q_cats, 0) < 2 THEN CAST(NULL AS BIGINT)
             ELSE CAST(
               ((COALESCE(s.s_m, 0) * 1000)
                 // (4 * t.n * t.n * (s.q_cats - 1))) * 1000
               + (((COALESCE(s.s_m, 0) * 1000)
                 % (4 * t.n * t.n * (s.q_cats - 1))) * 1000)
                 // (4 * t.n * t.n * (s.q_cats - 1))
               AS BIGINT)
           END AS pe_ppm
    FROM tot t LEFT JOIN s ON s.source = t.source
    """

    @_register("x_gwet_ac1", sql)
    def x_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gwet's AC1 sufficient statistics between the documents'
        lang column and the heuristic lang-id prediction, per source
        (operators/ranking.py::gwet_ac1) — the prevalence-robust
        companion of x_rater_agreement: on a skewed label mix kappa
        collapses toward zero while AC1 tracks the observed agreement
        (the 'kappa paradox', Gwet 2008); same fixture, so the two
        audits are directly comparable row-for-row.  pe uses the
        UNION of both raters' categories (full-outer marginal join);
        exact floor-ppm; AC1 = (po - pe)/(1 - pe) caller-side."""
        from kafka_dead_letter_analyzer_spark.operators import ranking as RK

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("lang").isNotNull()
            & F.col("source").isNotNull()
            & F.col("text").isNotNull()
        )
        pred = TX.with_lang_id(docs.select("source", "lang", "text"))
        return RK.gwet_ac1(
            pred, rater_a="lang", rater_b="pred_lang",
            group_cols=["source"],
        )

    return x_gwet_ac1


x_gwet_ac1 = _register_gwet_ac1()



@_register(
    "x_fleiss_agreement",
    f"""
    WITH docs AS (
      SELECT source, doc_id, lang, {TX.lang_id_sql('text')} AS pred,
             n_chars
      FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
        AND text IS NOT NULL AND doc_id IS NOT NULL
        AND n_chars IS NOT NULL
    ), long AS (
      SELECT source, doc_id, lang AS lab FROM docs
      UNION ALL
      SELECT source, doc_id, pred FROM docs
      UNION ALL
      SELECT source, doc_id,
             CASE WHEN n_chars % 3 = 0 THEN lang ELSE pred END
      FROM docs WHERE n_chars % 5 <> 0
    ), cells AS (
      SELECT source, doc_id, lab, CAST(count(*) AS BIGINT) AS c
      FROM long GROUP BY 1, 2, 3
    ), item AS (
      SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS ni,
             CAST(sum(c * c) AS BIGINT) AS ssq
      FROM cells GROUP BY 1, 2
    ), conform AS (
      SELECT * FROM item WHERE ni = 3
    ), gstat AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(ssq) AS BIGINT) AS sum_sq
      FROM conform GROUP BY 1
    ), alls AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_items_all
      FROM item GROUP BY 1
    ), cat AS (
      SELECT ce.source, ce.lab, CAST(sum(ce.c) AS BIGINT) AS cj
      FROM cells ce JOIN conform f
        ON f.source = ce.source AND f.doc_id = ce.doc_id
      GROUP BY 1, 2
    ), scc AS (
      SELECT source, CAST(sum(cj * cj) AS BIGINT) AS s_cc
      FROM cat GROUP BY 1
    )
    SELECT g.source, g.n_items,
           CAST(a.n_items_all - g.n_items AS BIGINT) AS n_items_dropped,
           CAST(3 AS BIGINT) AS n_raters,
           CAST((((g.sum_sq - g.n_items * 3) * 1000)
              // (g.n_items * 3 * 2)) * 1000
             + ((((g.sum_sq - g.n_items * 3) * 1000)
                 % (g.n_items * 3 * 2)) * 1000)
               // (g.n_items * 3 * 2) AS BIGINT) AS po_ppm,
           CAST(((s.s_cc * 1000)
              // (g.n_items * 3 * g.n_items * 3)) * 1000
             + (((s.s_cc * 1000)
                 % (g.n_items * 3 * g.n_items * 3)) * 1000)
               // (g.n_items * 3 * g.n_items * 3) AS BIGINT) AS pe_ppm
    FROM gstat g
    JOIN alls a ON a.source = g.source
    JOIN scc s ON s.source = g.source
    """,
)
def x_fleiss_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa sufficient statistics over a 3-annotator panel
    per source (operators/ranking.py::fleiss_kappa): rater 1 = the
    documents' lang column, rater 2 = the heuristic lang-id, rater 3
    = a deterministic mixed rater that ABSTAINS on every fifth doc
    (n_chars % 5 == 0) — so the drop-incomplete contract is exercised
    in the gate itself: abstained items carry 2 ratings, are dropped
    from the statistic, and surface in n_items_dropped.  kappa =
    (po - pe)/(1 - pe) stays caller-side (can be negative).  Plan:
    ONE documents scan (the panel is an array-explode projection, not
    a 3-way union — a union re-scans the 100 TB fact once per rater;
    abstention is a NULL label, which fleiss_kappa excludes by
    contract), then one (source, doc_id, label) contraction shuffle
    and contraction-sized group reductions."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    def build():
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("lang").isNotNull()
            & F.col("source").isNotNull()
            & F.col("text").isNotNull()
            & F.col("doc_id").isNotNull()
            & F.col("n_chars").isNotNull()
        )
        pred = TX.with_lang_id(
            docs.select("source", "doc_id", "lang", "text", "n_chars")
        ).select("source", "doc_id", "lang", "pred_lang", "n_chars")
        ratings = pred.select(
            "source",
            "doc_id",
            F.explode(
                F.array(
                    F.col("lang"),
                    F.col("pred_lang"),
                    F.when(
                        F.col("n_chars") % 5 != 0,
                        F.when(F.col("n_chars") % 3 == 0, F.col("lang"))
                        .otherwise(F.col("pred_lang")),
                    ),  # every 5th doc: rater 3 abstains (NULL label)
                )
            ).alias("lab"),
        )
        return RK.fleiss_kappa(
            ratings, item_col="doc_id", label_col="lab",
            group_cols=["source"], n_raters=3,
        )

    # r14: built plan memoized (see _memo_plan) — the lang-id + panel
    # plan build re-paid per invocation; no construction actions
    return _memo_plan(
        spark, sf_dir, "x_fleiss_agreement", ["documents"], build
    )


@_register(
    "x_calibration_deciles",
    """
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS s, (lang = 'en') AS y
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), cnt AS (
      SELECT source, s, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp
      FROM c GROUP BY 1, 2
    ), w AS (
      SELECT source, s, c, cp,
             CAST(COALESCE(sum(c) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_lt,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_all
      FROM cnt
    ), binned AS (
      SELECT source, (cum_lt * 10) // n_all AS bin, s, c, cp FROM w
    ), agg AS (
      SELECT source, CAST(bin AS BIGINT) AS bin,
             CAST(min(s) AS BIGINT) AS bin_lo,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(cp) AS BIGINT) AS n_pos
      FROM binned GROUP BY source, bin
    )
    SELECT source, bin, bin_lo, n, n_pos,
           CAST(((n_pos * 1000) // n) * 1000
             + (((n_pos * 1000) % n) * 1000) // n AS BIGINT)
             AS pos_rate_ppm
    FROM agg
    """,
)
def x_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-MASS (decile) reliability diagram per source
    (operators/ranking.py::calibration_bins(mode='mass')) — the
    standard convention for a long-tailed score, where x_calibration_
    bins' equal-width bins would pile most rows into one bin.  Built
    on the same per-score contraction the ROC family uses; a tied
    score value lands whole in the bin of its first rank
    (deterministic — a row-level ntile would split ties by arbitrary
    row order and never hash-match)."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    return RK.calibration_bins(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        group_cols=["source"],
        bins=10,
        mode="mass",
    )


@_register(
    "x_precision_at_recall",
    """
    WITH c AS (
      SELECT source, n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS neg
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
      GROUP BY 1, 2
    ), w AS (
      SELECT source, s,
             CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT)
               - CAST(COALESCE(sum(pos) OVER (PARTITION BY source
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                 PRECEDING), 0) AS BIGINT) AS tp,
             CAST(sum(neg) OVER (PARTITION BY source) AS BIGINT)
               - CAST(COALESCE(sum(neg) OVER (PARTITION BY source
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                 PRECEDING), 0) AS BIGINT) AS fp,
             CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT) AS np
      FROM c
    ), ok AS (
      -- recall floor: tp / np >= 90% by cross-multiplication
      SELECT * FROM w WHERE np > 0 AND 10 * tp >= 9 * np
    ), ranked AS (
      -- among qualifying thresholds take max precision (integer
      -- cross-compare via ppm), HIGHEST threshold on ties (the
      -- tightest gate that still meets the floor)
      SELECT source, s, tp, fp,
             CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE
               ((tp * 1000) // (tp + fp)) * 1000
               + (((tp * 1000) % (tp + fp)) * 1000) // (tp + fp) END
               AS BIGINT) AS precision_ppm,
             CAST(((tp * 1000) // np) * 1000
               + (((tp * 1000) % np) * 1000) // np AS BIGINT)
               AS recall_ppm,
             row_number() OVER (PARTITION BY source ORDER BY
               CASE WHEN tp + fp = 0 THEN 0 ELSE
                 ((tp * 1000) // (tp + fp)) * 1000
                 + (((tp * 1000) % (tp + fp)) * 1000) // (tp + fp) END
               DESC, s DESC) AS rn
      FROM ok
    )
    SELECT source, s AS threshold, tp, fp, precision_ppm, recall_ppm
    FROM ranked WHERE rn = 1
    """,
)
@_memo_plan_query("x_precision_at_recall", ["documents"])
def x_precision_at_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-at-recall threshold selection per source — the
    OTHER deployment rule next to x_f1_threshold: "keep at least 90%
    of the English docs; among thresholds meeting that floor, gate at
    the most precise one" (ties to the HIGHEST threshold — the
    tightest qualifying gate).  Recall floors are how production
    quality filters are actually specified (the cost of losing true
    data is asymmetric to letting noise through).  All selection
    arithmetic is integer: the recall floor is the cross-multiplied
    ``10 * tp >= 9 * n_pos`` and precision orders by its exact
    two-step-division ppm.  Plan: the same single-shuffle ROC
    contraction (roc_curve_points), one filter, one per-source
    row_number argmax."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    curve = RK.roc_curve_points(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        group_cols=["source"],
    )
    w = curve.withColumn("np", F.expr("tp + fn"))
    ok = w.filter(F.expr("np > 0 AND 10 * tp >= 9 * np"))
    prec = (
        "CASE WHEN tp + fp = 0 THEN 0 ELSE"
        " ((tp * 1000) DIV (tp + fp)) * 1000"
        " + (((tp * 1000) % (tp + fp)) * 1000) DIV (tp + fp) END"
    )
    scored = ok.withColumn(
        "precision_ppm", F.expr(prec).cast("bigint")
    ).withColumn(
        "recall_ppm",
        F.expr(
            "((tp * 1000) DIV np) * 1000"
            " + (((tp * 1000) % np) * 1000) DIV np"
        ).cast("bigint"),
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy(
                F.desc("precision_ppm"), F.desc("s")
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "source",
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        "precision_ppm",
        "recall_ppm",
    )


@_register("x_pca_projection")
def x_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed PCA of the embedding corpus, projected to 4
    components (operators/similarity.py::pca_fit + pca_project) — the
    dimensionality audit/reduction step of an embedding pipeline.  The
    fit is ONE corpus scan reducing each partition to d + d^2 doubles
    (numpy X^T X per Arrow batch inside mapInPandas; vectors never
    shuffle), the driver eigendecomposes the 64 x 64 covariance, and
    the projection is one broadcast-matmul pandas UDF pass.  ROWS-ONLY
    by design: projections are doubles, which this repo's oracle rules
    ban from the hash surface — correctness is differential-tested
    against a direct numpy PCA of the same rows plus orthonormality /
    partition-independence / variance-spectrum invariants
    (tests/test_extensions.py)."""
    from kafka_dead_letter_analyzer_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    comps, _vals, mean, _n = S.pca_fit(emb, n_components=4)
    return S.pca_project(emb, comps, mean)


@_register("x_isotonic_calibration")
def x_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of document length as a predictor of
    English, per source (operators/ranking.py::isotonic_calibrate) —
    the scorer-audit complement of x_auc_by_source: AUC says length
    RANKS English docs well; the calibrated curve says what a given
    length is actually worth as a probability, as the exact integer
    rational (cal_num, cal_den) of each PAV-pooled block.  ROWS-ONLY
    by design (like x_kll_quantiles): the pool-adjacent-violators
    recursion is not SQL-expressible, so there is no DuckDB oracle —
    the operator is differential-tested against an independent
    fixed-point PAV reference plus the isotonic/mass-preservation
    invariants (tests/test_ranking.py).  Plan: one (source, n_chars)
    contraction shuffle, then applyInPandas runs the O(buckets) stack
    per source, parallel across sources."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    return RK.isotonic_calibrate(
        docs.withColumn("is_en", F.col("lang") == "en"),
        score_col="n_chars",
        label_col="is_en",
        group_cols=["source"],
    )


@_register(
    "x_rrf_fusion",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS val
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
    ), cnt AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS val
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
    ), u AS (
      SELECT 'spend' AS src, o_custkey, val FROM spend
      UNION ALL
      SELECT 'orders' AS src, o_custkey, val FROM cnt
    ), r AS (
      SELECT o_custkey,
             CAST(dense_rank() OVER (PARTITION BY src ORDER BY val DESC)
               AS BIGINT) AS rk
      FROM u
    )
    SELECT o_custkey,
           CAST(sum(1000000000 // (60 + rk)) AS BIGINT) AS rrf_score_ppb,
           CAST(count(*) AS BIGINT) AS n_sources
    FROM r GROUP BY 1
    ORDER BY rrf_score_ppb DESC, o_custkey
    LIMIT 50
    """,
)
def x_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two
    customer rankings — by lifetime spend (cents) and by order count —
    via operators/ranking.py::rrf_fuse: dense rank per source in a
    source-partitioned window, integer reciprocal contributions
    10^9 div (k + rank) summed per customer (float-free so the surface
    hash-checks), TakeOrdered top-50 contraction.  The fusion pattern
    ANN/retrieval pipelines use to combine ranking signals, expressed
    with id+rank-width shuffles only."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents).cast("bigint").alias("val")
    ).withColumn("src", F.lit("spend"))
    cnt = orders.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("val")
    ).withColumn("src", F.lit("orders"))
    return RK.rrf_fuse(
        spend.unionByName(cnt),
        item_cols=["o_custkey"],
        source_col="src",
        order_col="val",
        k=60,
        top_n=50,
    )


@_register(
    "x_gini_doclen",
    """
    WITH c AS (
      SELECT CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    ), w AS (
      SELECT v, c,
             CAST(COALESCE(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_lt
      FROM c
    ), agg AS (
      SELECT CAST(sum(v * (c * cum_lt + (c * (c + 1)) // 2)) AS BIGINT) AS s1,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS total
      FROM w
    ), nd AS (
      SELECT 2 * s1 - (n + 1) * total AS num, n * total AS nt, n, total
      FROM agg WHERE total > 0
    )
    SELECT CAST(((num * 1000) // nt) * 1000
             + (((num * 1000) % nt) * 1000) // nt AS BIGINT) AS gini_ppm,
           n, total
    FROM nd
    """,
)
def x_gini_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level Gini coefficient of document length — the
    corpus-concentration diagnostic (operators/profile.py::
    gini_concentration), global path: per-value counts (the only
    full-data shuffle), the shared two-phase range prefix sum
    (ranking.py::global_exclusive_prefix — no single-task window), then
    the rank-sum identity S1 = sum(v*(c*C + c(c+1)/2)) so per-row ranks
    are never materialized.  gini_ppm is produced by two-step long
    division (num <= nt keeps every intermediate under nt*1000), exact
    cross-engine with no float.

    Contrast with x_gini_concentration (the earlier per-event-type
    form): that one row_number()s every row inside a group window —
    O(group rows) of window state, grouped-only, num/den surface; this
    one contracts to per-value counts first (window/prefix work scales
    with the DISTINCT-value domain, typically orders of magnitude
    smaller) and supports the global corpus-level coefficient with no
    single-task stage."""
    from kafka_dead_letter_analyzer_spark.operators import profile as PR

    docs = load_table(spark, sf_dir, "documents")
    return PR.gini_concentration(docs, value_col="n_chars")


@_register(
    "x_gini_by_source",
    """
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM documents
      WHERE n_chars IS NOT NULL AND source IS NOT NULL
      GROUP BY 1, 2
    ), w AS (
      SELECT source, v, c,
             CAST(COALESCE(sum(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_lt
      FROM c
    ), agg AS (
      SELECT source,
             CAST(sum(v * (c * cum_lt + (c * (c + 1)) // 2)) AS BIGINT) AS s1,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS total
      FROM w GROUP BY 1
    ), nd AS (
      SELECT source, 2 * s1 - (n + 1) * total AS num, n * total AS nt,
             n, total
      FROM agg WHERE total > 0
    )
    SELECT source,
           CAST(((num * 1000) // nt) * 1000
             + (((num * 1000) % nt) * 1000) // nt AS BIGINT) AS gini_ppm,
           n, total
    FROM nd
    """,
)
def x_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini of document length — gini_concentration's
    grouped path: the cumulative-count prefix PARTITIONS on the group
    column, so each source's bounded distinct-length domain sorts in
    its own task, parallel across sources, never a global sort.  Same
    integer rank-sum identity and two-step-division ppm as the global
    form; sources whose mass is zero drop (Gini undefined)."""
    from kafka_dead_letter_analyzer_spark.operators import profile as PR

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    return PR.gini_concentration(
        docs, value_col="n_chars", group_cols=["source"]
    )


@_register(
    "x_cusum_changepoint",
    """
    WITH counts AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % 86400000000 AS bus,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), c0 AS (
      SELECT event_type, bus, x,
             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY bus)
               AS BIGINT) AS p,
             CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS total,
             min(bus) OVER (PARTITION BY event_type) AS min_bus
      FROM counts
    ), c1 AS (
      SELECT *, (bus - min_bus) // 86400000000 + 1 AS t,
             max((bus - min_bus) // 86400000000 + 1)
               OVER (PARTITION BY event_type) AS b
      FROM c0
    ), c2 AS (
      SELECT *, p * b - t * total AS s,
             (p - x) * b - (t - 1) * total AS pre,
             (t = b) AS is_last
      FROM c1
    ), c3 AS (
      SELECT *,
             min(pre) OVER (PARTITION BY event_type ORDER BY bus)
               AS runmin_pre,
             greatest(0, COALESCE(max(s) OVER (PARTITION BY event_type
               ORDER BY bus
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS runmax_s_prev
      FROM c2
    ), c4 AS (
      SELECT *, s - runmin_pre AS up_d,
             CASE WHEN is_last THEN
               greatest(runmax_s_prev - pre,
                        greatest(runmax_s_prev, s) - s)
             ELSE runmax_s_prev - pre END AS down_d
      FROM c3
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type
               ORDER BY up_d DESC, bus ASC) AS r_up,
             row_number() OVER (PARTITION BY event_type
               ORDER BY down_d DESC, bus ASC) AS r_dn
      FROM c4
    ), agg AS (
      SELECT event_type,
             max(total) AS n, max(b) AS buckets,
             max(CASE WHEN r_up = 1 THEN bus END) AS up_bus,
             max(CASE WHEN r_up = 1 THEN up_d END) AS up_d,
             max(CASE WHEN r_dn = 1 THEN bus END) AS down_bus,
             max(CASE WHEN r_dn = 1 THEN down_d END) AS down_d
      FROM ranked GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(buckets AS BIGINT) AS buckets,
           CAST(up_bus AS BIGINT) AS up_cp_us,
           CAST(((up_d * 1000) // (n * buckets)) * 1000
             + (((up_d * 1000) % (n * buckets)) * 1000) // (n * buckets)
             AS BIGINT) AS up_ppm,
           CAST(down_bus AS BIGINT) AS down_cp_us,
           CAST(((down_d * 1000) // (n * buckets)) * 1000
             + (((down_d * 1000) % (n * buckets)) * 1000) // (n * buckets)
             AS BIGINT) AS down_ppm
    FROM agg
    """,
)
@_memo_plan_query("x_cusum_changepoint", ["events"])
def x_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CUSUM change-point per event type, day buckets — WHERE did
    each type's event rate most decisively rise above / fall below its
    own mean, and by how much (operators/drift.py::cusum_changepoint)?
    The textbook recursive detector is re-derived as the prefix-sum /
    running-extreme identity D_t = S_t - min_{j<=t} S_j over the
    (type, day) count contraction: one full-data shuffle, then windows
    over at most ~span/day rows per group, parallel across groups.  All
    deviations are integers (S_t = P_t*B - t*total clears the mean-rate
    denominator); ppm = two-step long division by n*buckets.  The
    change-point timestamps cross the oracle boundary as epoch-micros
    BIGINTs per the determinism rules."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events")
    cp = DR.cusum_changepoint(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day"
    )
    return cp.select(
        "event_type",
        "n",
        "buckets",
        F.unix_micros("up_cp_ts").alias("up_cp_us"),
        "up_ppm",
        F.unix_micros("down_cp_ts").alias("down_cp_us"),
        "down_ppm",
    )


@_register(
    "x_tvd_drift",
    """
    WITH ev AS (
      SELECT user_id % 8 AS cohort, event_type, epoch_us(ts) AS us
      FROM events WHERE ts IS NOT NULL
    ), anchor AS (
      SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev
    ), per_cat AS (
      SELECT cohort, event_type,
             CAST(sum(CASE WHEN us <= mid_us THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(sum(CASE WHEN us <= mid_us THEN 0 ELSE 1 END)
               AS BIGINT) AS c2
      FROM ev, anchor GROUP BY 1, 2
    ), scored AS (
      SELECT *, CAST(sum(c1) OVER (PARTITION BY cohort) AS BIGINT) AS n1,
             CAST(sum(c2) OVER (PARTITION BY cohort) AS BIGINT) AS n2
      FROM per_cat
    ), agg AS (
      SELECT cohort,
             CAST(sum(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS num,
             CAST(max(n1) AS BIGINT) AS n_early,
             CAST(max(n2) AS BIGINT) AS n_late,
             CAST(count(*) AS BIGINT) AS n_cats
      FROM scored WHERE n1 > 0 AND n2 > 0 GROUP BY 1
    )
    SELECT cohort,
           CAST(((num * 1000) // (2 * n_early * n_late)) * 1000
             + (((num * 1000) % (2 * n_early * n_late)) * 1000)
               // (2 * n_early * n_late) AS BIGINT) AS tvd_ppm,
           n_early, n_late, n_cats
    FROM agg
    """,
)
def x_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation drift of the event-type mix, early half vs late
    half of the stream, per user cohort (user_id % 8) — the
    integer-exact population-stability audit
    (operators/drift.py::tvd_drift).  One (cohort, type) conditional-
    count contraction is the only full-data shuffle; the midpoint split
    arrives as a 1-row broadcast anchor; TVD's denominators are cleared
    as sum|c1*n2 - c2*n1| / (2*n1*n2) and emitted as ppm via two-step
    long division.  TVD (unlike PSI) needs no log — hash-exact on any
    engine — and has the coupling reading: the minimum fraction of rows
    whose type must change to turn the early mix into the late one."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", F.expr("user_id % 8")
    )
    return DR.tvd_drift(
        ev, ts_col="ts", cat_col="event_type", group_cols=["cohort"]
    )


@_register(
    "x_wasserstein_drift",
    """
    WITH ev AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
             epoch_us(l_shipdate) AS us
      FROM lineitem
      WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
    ), anchor AS (
      SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev
    ), per_val AS (
      SELECT l_returnflag, v,
             CAST(sum(CASE WHEN us <= mid_us THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(sum(CASE WHEN us <= mid_us THEN 0 ELSE 1 END)
               AS BIGINT) AS c2
      FROM ev, anchor GROUP BY 1, 2
    ), scored AS (
      SELECT *,
             CAST(sum(c1) OVER (PARTITION BY l_returnflag ORDER BY v)
               AS BIGINT) AS cum1,
             CAST(sum(c2) OVER (PARTITION BY l_returnflag ORDER BY v)
               AS BIGINT) AS cum2,
             CAST(sum(c1) OVER (PARTITION BY l_returnflag)
               AS BIGINT) AS n1,
             CAST(sum(c2) OVER (PARTITION BY l_returnflag)
               AS BIGINT) AS n2,
             COALESCE(lead(v) OVER (PARTITION BY l_returnflag ORDER BY v)
               - v, 0) AS gap
      FROM per_val
    ), agg AS (
      SELECT l_returnflag,
             CAST(sum(abs(cum1 * n2 - cum2 * n1) * gap) AS BIGINT) AS num,
             CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
             CAST(max(n1) AS BIGINT) AS n_early,
             CAST(max(n2) AS BIGINT) AS n_late,
             CAST(count(*) AS BIGINT) AS n_values
      FROM scored WHERE n1 > 0 AND n2 > 0 GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(((num * 1000) // (n_early * n_late)) * 1000
             + (((num * 1000) % (n_early * n_late)) * 1000)
               // (n_early * n_late) AS BIGINT) AS w1_e6,
           CAST(((ks_num * 1000) // (n_early * n_late)) * 1000
             + (((ks_num * 1000) % (n_early * n_late)) * 1000)
               // (n_early * n_late) AS BIGINT) AS ks_ppm,
           n_early, n_late, n_values
    FROM agg
    """,
)
def x_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wasserstein-1 (earth-mover) drift of the quantity
    distribution between early and late ship dates, per return flag
    (operators/drift.py::wasserstein_drift) — the NUMERIC complement
    of x_tvd_drift: TVD sees only that the mix changed; W1 weighs how
    FAR the mass moved, in quantity units x 1e6.  One (flag, value)
    conditional-count contraction is the only full-data shuffle;
    cumulative CDFs and support gaps are windows over the contraction
    (parallel across flags); the midpoint split is a 1-row broadcast
    anchor; W1 = sum |cum1*n2 - cum2*n1| * gap / (n1*n2) with the
    two-step-division floor, exact for any numerator.  The same
    CDF-difference contraction carries the two-sample KOLMOGOROV-
    SMIRNOV statistic (ks_ppm = max|F1-F2|) at zero extra cost: KS
    catches a sharp divergence confined to a narrow value band that
    W1's integral dilutes."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    li = load_table(spark, sf_dir, "lineitem")
    return DR.wasserstein_drift(
        li,
        ts_col="l_shipdate",
        value_col="l_quantity",
        group_cols=["l_returnflag"],
    )


@_register(
    "x_theilsen_trend",
    """
    WITH counts AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS t,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(t) AS t_lo, max(t) AS t_hi
      FROM counts GROUP BY 1
    ), timeline AS (
      SELECT event_type, unnest(generate_series(t_lo, t_hi)) AS t
      FROM span
    ), dense AS (
      SELECT tl.event_type, tl.t, COALESCE(c.x, 0) AS x
      FROM timeline tl LEFT JOIN counts c USING (event_type, t)
    ), pairs AS (
      SELECT a.event_type, b.x - a.x AS dy, b.t - a.t AS dx
      FROM dense a JOIN dense b
        ON a.event_type = b.event_type AND b.t > a.t
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type
               ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) ASC,
                        dy ASC, dx ASC) AS r,
             count(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    ), med AS (
      SELECT event_type, dy, dx, np FROM ranked WHERE r = (np + 1) // 2
    ), totals AS (
      SELECT event_type, CAST(sum(x) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_buckets
      FROM dense GROUP BY 1
    )
    SELECT m.event_type,
           CAST(dy AS BIGINT) AS slope_num,
           CAST(dx AS BIGINT) AS slope_den,
           n, n_buckets, CAST(np AS BIGINT) AS n_pairs
    FROM med m JOIN totals USING (event_type)
    """,
)
@_memo_plan_query("x_theilsen_trend", ["events"])
def x_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-rate trend per event type
    (operators/drift.py::theilsen_trend): the median pairwise slope
    over the DENSIFIED (zeros included) per-day count contraction —
    29.3% breakdown point, so one ingest-spike day cannot fake or mask
    a trend the way it drags an OLS fit.  Slopes stay exact rationals:
    selection orders by the IEEE-double quotient (exact-rounded
    identically on both engines) with (dy, dx) tiebreak, and the
    SELECTED pair's integer numerator/denominator cross the hash gate,
    never the quotient.  Pairs form inside one per-group numpy kernel
    (applyInPandas) over the span/day-bounded contraction (max_buckets
    probe RAISES on unbounded spans), never touching row-level data."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events")
    return DR.theilsen_trend(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day"
    )


@_register(
    "x_benford_audit",
    """
    WITH const(digit, exp_ppm) AS (
      VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
             (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)
    ), obs AS (
      SELECT o_orderpriority,
             CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
               * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
      GROUP BY 1, 2
    ), domains AS (
      SELECT DISTINCT o_orderpriority FROM obs
    ), full_grid AS (
      SELECT d.o_orderpriority, c.digit, CAST(c.exp_ppm AS BIGINT)
               AS exp_ppm, COALESCE(o.cnt, 0) AS cnt
      FROM domains d CROSS JOIN const c
      LEFT JOIN obs o ON o.o_orderpriority = d.o_orderpriority
        AND o.digit = c.digit
    ), scored AS (
      SELECT *, CAST(sum(cnt) OVER (PARTITION BY o_orderpriority)
               AS BIGINT) AS n
      FROM full_grid
    )
    SELECT o_orderpriority, CAST(digit AS BIGINT) AS digit, cnt,
           CAST(((cnt * 1000) // n) * 1000
             + (((cnt * 1000) % n) * 1000) // n AS BIGINT) AS obs_ppm,
           exp_ppm,
           CAST(abs(((cnt * 1000) // n) * 1000
             + (((cnt * 1000) % n) * 1000) // n - exp_ppm)
             AS BIGINT) AS dev_ppm
    FROM scored WHERE n > 0
    """,
)
def x_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals per
    priority class (operators/profile.py::benford_audit): organic
    multi-scale money follows log10(1+1/d); fabricated or defaulted
    values flunk it.  The law's nine expected shares are FIXED public
    ppm constants (they sum to exactly 1e6), so the audit is pure
    integer/string algebra — first digit = leading character of the
    exact cents rendering, observed share = two-step-division ppm,
    deviation = |obs - exp|.  One (priority, digit) count is the only
    full-data shuffle; the 9-row constant table joins broadcast-side
    and absent digits still emit (cnt=0) so a MISSING digit is
    visible."""
    from kafka_dead_letter_analyzer_spark.operators import profile as PR

    orders = load_table(spark, sf_dir, "orders")
    cents = (
        orders.withColumn(
            "price_cents",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint"),
        )
    )
    return PR.benford_audit(
        cents, value_col="price_cents", group_cols=["o_orderpriority"]
    )


@_register(
    "x_spearman_qty_price",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), xc AS (
      SELECT l_returnflag, x, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ), xm AS (
      SELECT l_returnflag, x AS xv,
             2 * CAST(COALESCE(sum(c) OVER (PARTITION BY l_returnflag
               ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1
               PRECEDING), 0) AS BIGINT) + c
               - CAST(sum(c) OVER (PARTITION BY l_returnflag)
                 AS BIGINT) AS dx
      FROM xc
    ), yc AS (
      SELECT l_returnflag, y, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ), ym AS (
      SELECT l_returnflag, y AS yv,
             2 * CAST(COALESCE(sum(c) OVER (PARTITION BY l_returnflag
               ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1
               PRECEDING), 0) AS BIGINT) + c
               - CAST(sum(c) OVER (PARTITION BY l_returnflag)
                 AS BIGINT) AS dy
      FROM yc
    ), joined AS (
      SELECT b.l_returnflag, xm.dx, ym.dy
      FROM base b
      JOIN xm ON xm.l_returnflag = b.l_returnflag AND xm.xv = b.x
      JOIN ym ON ym.l_returnflag = b.l_returnflag AND ym.yv = b.y
    ), agg AS (
      SELECT l_returnflag,
             CAST(sum(dx * dy) AS BIGINT) AS num,
             CAST(sum(dx * dx) AS BIGINT) AS den_x,
             CAST(sum(dy * dy) AS BIGINT) AS den_y,
             CAST(count(*) AS BIGINT) AS n
      FROM joined GROUP BY 1
    )
    SELECT l_returnflag, num, den_x, den_y, n,
           CAST(floor(num * 1000000.0 /
             (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_y AS DOUBLE)))
             + 0.5) AS BIGINT) AS rho_e6
    FROM agg WHERE den_x > 0 AND den_y > 0
    """,
)
def x_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware Spearman rank correlation between quantity and
    price per return flag (operators/ranking.py::spearman_exact) — the
    monotone-dependence audit (is the relationship order-preserving,
    regardless of shape?).  Ranks never materialize as floats: the
    doubled-centered integer rank d = 2*C_lt + c - n makes
    Pearson-on-ranks collapse to three n^3-bounded integer sums
    (num, den_x, den_y), the primary hash surface; rho_e6 adds the
    floor(num*1e6/sqrt(dx)/sqrt(dy) + 0.5) fixed-point via IEEE exact-rounded
    ops run in the same order on both engines.  Plan: two (flag, value)
    contractions with group-partitioned cumulative windows joined back
    on renamed value keys, one map-side-combined aggregate."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    def build():
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            "l_quantity",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        return RK.spearman_exact(
            li, x_col="l_quantity", y_col="price_cents",
            group_cols=["l_returnflag"],
        )

    # r14: built plan memoized (see _memo_plan) — construction re-paid
    # the strategy/exactness probe scan per invocation
    return _memo_plan(
        spark, sf_dir, "x_spearman_qty_price", ["lineitem"], build
    )


@_register(
    "x_kendall_qty_discount",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    ), cells AS (
      SELECT l_returnflag, x, y, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ), cd AS (
      SELECT a.l_returnflag,
             CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
               THEN a.c * b.c ELSE 0 END) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
               THEN a.c * b.c ELSE 0 END) AS BIGINT) AS nd
      FROM cells a JOIN cells b
        ON a.l_returnflag = b.l_returnflag
       AND (b.x > a.x OR (b.x = a.x AND b.y > a.y))
      GROUP BY 1
    ), tx AS (
      SELECT l_returnflag,
             CAST(sum(c * (c - 1) // 2) AS BIGINT) AS tx_pairs,
             CAST(sum(c) AS BIGINT) AS n
      FROM (SELECT l_returnflag, x, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2) GROUP BY 1
    ), ty AS (
      SELECT l_returnflag,
             CAST(sum(c * (c - 1) // 2) AS BIGINT) AS ty_pairs
      FROM (SELECT l_returnflag, y, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2) GROUP BY 1
    ), joined AS (
      SELECT cd.l_returnflag, nc, nd, tx_pairs, ty_pairs, n,
             n * (n - 1) // 2 AS n0
      FROM cd JOIN tx USING (l_returnflag) JOIN ty USING (l_returnflag)
    )
    SELECT l_returnflag, nc, nd, tx_pairs, ty_pairs, n,
           CAST(floor((nc - nd) * 1000000.0 /
             (sqrt(CAST(n0 - tx_pairs AS DOUBLE))
              * sqrt(CAST(n0 - ty_pairs AS DOUBLE))) + 0.5)
             AS BIGINT) AS tau_e6
    FROM joined WHERE n0 > tx_pairs AND n0 > ty_pairs
    """,
)
@_memo_plan_query("x_kendall_qty_discount", ["lineitem"])
def x_kendall_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between quantity and discount per return
    flag (operators/ranking.py::kendall_tau_exact) — the ordinal
    concordance audit: for a random pair of line items, do higher
    quantities come with higher discounts?  The O(n^2) pair scan is
    re-shaped around the JOINT (quantity, discount-cents) value
    contraction (50 x 11 cells), so concordant/discordant mass is a
    cell-pair self-join whose size is independent of row count;
    marginal tie masses come from the two 1-D contractions as
    sum C(c,2).  All six statistics are integers; tau_e6 is the same
    IEEE floor(x + 0.5) fixed point as rho_e6."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        (F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("disc_cents"),
    )
    return RK.kendall_tau_exact(
        li, x_col="l_quantity", y_col="disc_cents",
        group_cols=["l_returnflag"],
    )


@_register(
    "x_kendall_price_quantized",
    """
    WITH base AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) AS y0
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), mm AS (
      SELECT g, min(y0) AS lo, max(y0) AS hi FROM base GROUP BY 1
    ), q AS (
      SELECT b.g, b.x, ((b.y0 - m.lo) * 256) // (m.hi - m.lo + 1) AS y
      FROM base b JOIN mm m ON m.g = b.g
    ), cells AS (
      SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
      FROM q GROUP BY 1, 2, 3
    ), grid AS (
      SELECT xs.g, xs.x, ys.y
      FROM (SELECT DISTINCT g, x FROM cells) xs
      JOIN (SELECT DISTINCT g, y FROM cells) ys ON ys.g = xs.g
    ), a AS (
      SELECT grid.g, grid.x, grid.y, COALESCE(c.c, 0) AS c,
             CAST(COALESCE(sum(COALESCE(c.c, 0)) OVER (
               PARTITION BY grid.g, grid.y ORDER BY grid.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS acum
      FROM grid LEFT JOIN cells c
        ON c.g = grid.g AND c.x = grid.x AND c.y = grid.y
    ), dom AS (
      SELECT g, c,
             CAST(COALESCE(sum(acum) OVER (PARTITION BY g, x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS d_ll,
             CAST(COALESCE(sum(acum) OVER (PARTITION BY g, x
               ORDER BY y DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS d_lg
      FROM a
    ), cd AS (
      SELECT g, CAST(sum(c * d_ll) AS BIGINT) AS nc,
             CAST(sum(c * d_lg) AS BIGINT) AS nd
      FROM dom GROUP BY 1
    ), tx AS (
      SELECT g, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS tx_pairs,
             CAST(sum(c) AS BIGINT) AS n
      FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS c
            FROM q GROUP BY 1, 2) GROUP BY 1
    ), ty AS (
      SELECT g, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS ty_pairs
      FROM (SELECT g, y, CAST(count(*) AS BIGINT) AS c
            FROM q GROUP BY 1, 2) GROUP BY 1
    ), j AS (
      SELECT cd.g, nc, nd, tx_pairs, ty_pairs, n,
             n * (n - 1) // 2 AS n0
      FROM cd JOIN tx ON tx.g = cd.g JOIN ty ON ty.g = cd.g
    )
    SELECT g AS l_returnflag, nc, nd, tx_pairs, ty_pairs, n,
           CAST(floor((nc - nd) * 1000000.0 /
             (sqrt(CAST(n0 - tx_pairs AS DOUBLE))
              * sqrt(CAST(n0 - ty_pairs AS DOUBLE))) + 0.5)
             AS BIGINT) AS tau_e6
    FROM j WHERE n0 > tx_pairs AND n0 > ty_pairs
    """,
)
def x_kendall_price_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and PRICE — a near-continuous
    column the exact cell-pair operator rightly refuses (cells ~ n;
    its self-join is quadratic in them) — via
    operators/ranking.py::kendall_tau_quantized: price quantizes into
    256 equi-width buckets over each flag's own [min, max] span
    (integer-exact, monotone — order never inverts, near pairs only
    merge into ties; bias O(1/256) of the pair mass), then
    concordant/discordant masses come from GRID-PREFIX dominance
    counting — three cumulative windows over the densified
    (quantity x bucket) grid, O(grid) per group where the exact
    operator is O(cells^2).  Every stage is grid-wide (<= 50 x 256
    per flag), never pair-wide: the plan shape is independent of row
    count."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    def build():
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            "l_quantity",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        return RK.kendall_tau_quantized(
            li, x_col="l_quantity", y_col="price_cents",
            group_cols=["l_returnflag"], y_buckets=256,
        )

    # r14: built plan memoized (see _memo_plan) — construction re-paid
    # the grid guard probe + kernel plan build (~0.8 s) per invocation
    return _memo_plan(
        spark, sf_dir, "x_kendall_price_quantized", ["lineitem"], build
    )


@_register(
    "x_tvd_drift_group_anchor",
    """
    WITH ev AS (
      SELECT event_type, user_id % 4 AS cohort, epoch_us(ts) AS us
      FROM events WHERE ts IS NOT NULL
    ), mids AS (
      SELECT event_type, (min(us) + max(us)) // 2 AS mid_us
      FROM ev GROUP BY 1
    ), per_cat AS (
      SELECT e.event_type, e.cohort,
             CAST(sum(CASE WHEN e.us <= m.mid_us THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(sum(CASE WHEN e.us <= m.mid_us THEN 0 ELSE 1 END)
               AS BIGINT) AS c2
      FROM ev e JOIN mids m
        ON m.event_type IS NOT DISTINCT FROM e.event_type
      GROUP BY 1, 2
    ), scored AS (
      SELECT *,
             CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
             CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
      FROM per_cat
    ), agg AS (
      SELECT event_type,
             CAST(sum(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS num,
             CAST(max(n1) AS BIGINT) AS n_early,
             CAST(max(n2) AS BIGINT) AS n_late,
             CAST(count(*) AS BIGINT) AS n_cats
      FROM scored WHERE n1 > 0 AND n2 > 0 GROUP BY 1
    )
    SELECT event_type,
           CAST(((num * 1000) // (2 * n_early * n_late)) * 1000
             + (((num * 1000) % (2 * n_early * n_late)) * 1000)
               // (2 * n_early * n_late) AS BIGINT) AS tvd_ppm,
           n_early, n_late, n_cats
    FROM agg
    """,
)
def x_tvd_drift_group_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TVD drift of the user-cohort mix per EVENT TYPE with the
    PER-GROUP split anchor (tvd_drift(anchor='per_group')): each type
    splits at the midpoint of its OWN observed span — the variant for
    independent per-group populations, where a late-born group
    (exactly the drifted population a detector exists to surface)
    must report drift over its own clock instead of silently dropping
    against the global midpoint.  Plan: the anchor becomes a grouped
    min/max aggregate joined back (AQE-planned; broadcast-sized for
    bounded group domains) instead of the 1-row broadcast; everything
    downstream is the same single (type, cohort) conditional-count
    contraction and two-step-division ppm."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", F.expr("user_id % 4")
    )
    return DR.tvd_drift(
        ev, ts_col="ts", cat_col="cohort", group_cols=["event_type"],
        anchor="per_group",
    )


@_register(
    "x_basket_lift",
    """
    WITH b AS (
      SELECT DISTINCT user_id AS u, event_type AS it FROM events
    ), pairs AS (
      SELECT x.it AS type_a, y.it AS type_b,
             CAST(count(*) AS BIGINT) AS support
      FROM b x JOIN b y ON x.u = y.u AND x.it < y.it
      GROUP BY 1, 2
    ), marg AS (
      SELECT it, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
    ), n AS (
      SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_baskets FROM b
    )
    SELECT p.type_a, p.type_b, p.support,
           ma.c AS c_a, mb.c AS c_b, n.n_baskets,
           CAST(((p.support * n.n_baskets * 1000) // (ma.c * mb.c)) * 1000
             + (((p.support * n.n_baskets * 1000) % (ma.c * mb.c)) * 1000)
               // (ma.c * mb.c) AS BIGINT) AS lift_e6,
           CAST(p.support * n.n_baskets - ma.c * mb.c AS BIGINT)
             AS leverage_num
    FROM pairs p
    JOIN marg ma ON ma.it = p.type_a
    JOIN marg mb ON mb.it = p.type_b
    CROSS JOIN n
    """,
)
def x_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift and leverage for event-type pairs across
    user baskets (operators/analytics.py::basket_lift) — the
    independence-normalized layer over x_basket_pairs' raw support:
    lift_e6 (1e6 = independent, above = attraction) via two-step long
    division, and the INTEGER leverage numerator support*N - c_a*c_b
    whose sign answers attracted/repelled with no division at all.
    Plan: the same distinct-contraction pair join as the support
    count, two broadcast marginal joins, a 1-row broadcast basket-
    count anchor."""
    from kafka_dead_letter_analyzer_spark.operators import analytics as AN

    ev = load_table(spark, sf_dir, "events")
    return AN.basket_lift(ev, basket_col="user_id", item_col="event_type")


@_register(
    "x_seasonal_anomaly",
    """
    WITH d0 AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             (epoch_us(ts) % 86400000000) // 3600000000 AS hod,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2, 3
    ), anchor AS (
      SELECT max(day) AS today FROM d0
    ), hist AS (
      SELECT d0.* FROM d0, anchor WHERE day < today
    ), ranked AS (
      SELECT event_type, hod, cnt,
             row_number() OVER (PARTITION BY event_type, hod
               ORDER BY cnt ASC, day ASC) AS rn,
             count(*) OVER (PARTITION BY event_type, hod) AS m
      FROM hist
    ), med AS (
      SELECT event_type, hod, cnt AS med_cnt,
             CAST(m AS BIGINT) AS n_days
      FROM ranked WHERE rn = (m + 1) // 2
    ), today_cnt AS (
      SELECT d0.event_type, d0.hod, d0.cnt
      FROM d0, anchor WHERE day = today
    )
    SELECT m.event_type, CAST(m.hod AS BIGINT) AS hod,
           COALESCE(t.cnt, 0) AS today_cnt, m.med_cnt, m.n_days,
           CAST(((COALESCE(t.cnt, 0) * 1000) // m.med_cnt) * 1000
             + (((COALESCE(t.cnt, 0) * 1000) % m.med_cnt) * 1000)
               // m.med_cnt AS BIGINT) AS ratio_e6
    FROM med m LEFT JOIN today_cnt t
      ON t.event_type = m.event_type AND t.hod = m.hod
    """,
)
def x_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) anomaly profile: today's hourly count per
    event type against the strictly-HISTORICAL lower median for that
    same hour — the "is tonight's 2am error rate normal FOR 2AM"
    question that a flat mean-rate detector cannot ask.  ratio_e6 =
    floor(today*1e6/median) via two-step division (1e6 = exactly at
    the seasonal norm; the lower median of positive counts is >= 1 so
    the division is always defined); hours the type never produced
    BEFORE today have no baseline and drop, hours silent TODAY emit
    ratio 0.  Plan: one (type, day, hod) count contraction is the full
    data shuffle; the median is a row_number window over the
    contraction per (type, hod); "today" is a 1-row broadcast anchor."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d0 = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
            F.expr(
                "(unix_micros(ts) % 86400000000) DIV 3600000000"
            ).alias("hod"),
        )
        .groupBy("event_type", "day", "hod")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    anchor = d0.agg(F.max("day").alias("today"))
    hist = d0.crossJoin(F.broadcast(anchor)).filter(
        F.col("day") < F.col("today")
    )
    from pyspark.sql import Window as W

    wg = W.partitionBy("event_type", "hod")
    ranked = hist.withColumn(
        "rn", F.row_number().over(wg.orderBy(F.asc("cnt"), F.asc("day")))
    ).withColumn("m", F.count(F.lit(1)).over(wg))
    med = ranked.filter(F.expr("rn = (m + 1) DIV 2")).select(
        "event_type",
        "hod",
        F.col("cnt").alias("med_cnt"),
        F.col("m").cast("bigint").alias("n_days"),
    )
    today_cnt = (
        d0.crossJoin(F.broadcast(anchor))
        .filter(F.col("day") == F.col("today"))
        .select("event_type", "hod", F.col("cnt").alias("tcnt"))
    )
    joined = med.join(today_cnt, ["event_type", "hod"], "left").withColumn(
        "today_cnt", F.coalesce("tcnt", F.lit(0).cast("bigint"))
    )
    return joined.select(
        "event_type",
        F.col("hod").cast("bigint").alias("hod"),
        "today_cnt",
        "med_cnt",
        "n_days",
        F.expr(
            "((today_cnt * 1000) DIV med_cnt) * 1000"
            " + (((today_cnt * 1000) % med_cnt) * 1000) DIV med_cnt"
        ).cast("bigint").alias("ratio_e6"),
    )


@_register(
    "x_leadlag_purchase_error",
    """
    WITH ev AS (
      SELECT event_type AS cat, epoch_us(ts) // 86400000000 AS t
      FROM events
      WHERE ts IS NOT NULL AND event_type IN ('purchase', 'error')
    ), counts AS (
      SELECT cat, t, CAST(count(*) AS BIGINT) AS x FROM ev GROUP BY 1, 2
    ), span AS (
      SELECT min(t) AS t_lo, max(t) AS t_hi FROM counts
    ), timeline AS (
      SELECT unnest(generate_series(t_lo, t_hi)) AS t FROM span
    ), a AS (
      SELECT tl.t, COALESCE(c.x, 0) AS xa
      FROM timeline tl LEFT JOIN counts c
        ON c.cat = 'purchase' AND c.t = tl.t
    ), b AS (
      SELECT tl.t, COALESCE(c.x, 0) AS xb
      FROM timeline tl LEFT JOIN counts c
        ON c.cat = 'error' AND c.t = tl.t
    ), lags AS (
      SELECT unnest(generate_series(0, 5)) AS lag
    ), paired AS (
      SELECT l.lag, a.xa AS x, b.xb AS y
      FROM a CROSS JOIN lags l JOIN b ON b.t = a.t + l.lag
    ), xc AS (
      SELECT lag, x, CAST(count(*) AS BIGINT) AS c
      FROM paired GROUP BY 1, 2
    ), xm AS (
      SELECT lag, x AS xv,
             2 * CAST(COALESCE(sum(c) OVER (PARTITION BY lag ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) + c
               - CAST(sum(c) OVER (PARTITION BY lag) AS BIGINT) AS dx
      FROM xc
    ), yc AS (
      SELECT lag, y, CAST(count(*) AS BIGINT) AS c
      FROM paired GROUP BY 1, 2
    ), ym AS (
      SELECT lag, y AS yv,
             2 * CAST(COALESCE(sum(c) OVER (PARTITION BY lag ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) + c
               - CAST(sum(c) OVER (PARTITION BY lag) AS BIGINT) AS dy
      FROM yc
    ), joined AS (
      SELECT p.lag, xm.dx, ym.dy
      FROM paired p
      JOIN xm ON xm.lag = p.lag AND xm.xv = p.x
      JOIN ym ON ym.lag = p.lag AND ym.yv = p.y
    ), agg AS (
      SELECT lag,
             CAST(sum(dx * dy) AS BIGINT) AS num,
             CAST(sum(dx * dx) AS BIGINT) AS den_x,
             CAST(sum(dy * dy) AS BIGINT) AS den_y,
             CAST(count(*) AS BIGINT) AS n
      FROM joined GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, num, den_x, den_y, n,
           CAST(floor(num * 1000000.0 /
             (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_y AS DOUBLE)))
             + 0.5) AS BIGINT) AS rho_e6
    FROM agg WHERE den_x > 0 AND den_y > 0
    """,
)
def x_leadlag_purchase_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag rank cross-correlation between the purchase and error
    daily-rate series (operators/drift.py::leadlag_spearman): for each
    lag 0..5 days, the exact tie-aware Spearman correlation between
    purchases at day t and errors at day t+lag — "do error bursts
    FOLLOW purchase bursts, and by how much?" with rank correlation's
    monotone-transform robustness (a 10x traffic day inflates both
    series; their ranks still align).  Both series densify over the
    union span (zeros where silent), each lag pairs by a
    contraction-sized offset equi-join against a broadcast lag table
    (explicitly aliased — the same-lineage trap), and ALL lags'
    statistics come from one spearman_exact call with lag as the
    group column."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    # r14: built plan memoized (see _memo_plan) — construction re-paid
    # leadlag's worst-span guard probe per invocation
    return _memo_plan(
        spark,
        sf_dir,
        "x_leadlag_purchase_error",
        ["events"],
        lambda: DR.leadlag_spearman(
            load_table(spark, sf_dir, "events"),
            ts_col="ts", cat_col="event_type",
            cat_a="purchase", cat_b="error", max_lag=5, bucket="day",
        ),
    )


def _duck_u32(expr: str) -> str:
    """DuckDB reconstruction of sampling.py::hash_uniform_u32 (first 8
    hex digits of md5 as BIGINT) for an arbitrary string expression."""
    return (
        f"list_sum([(strpos('0123456789abcdef', md5({expr})[i]) - 1)"
        f" * ([{_HEX8_POWS}][i])::BIGINT for i in range(1, 9)])"
    )


@_register(
    "x_bootstrap_doclen",
    f"""
    WITH exploded AS (
      SELECT source, n_chars,
             unnest(generate_series(0, 15)) AS b,
             CAST(doc_id AS VARCHAR) AS k
      FROM documents WHERE n_chars IS NOT NULL
    ), weighted AS (
      SELECT source, n_chars, b,
             ({_duck_u32("k || ':' || CAST(b AS VARCHAR) || ':boot:'")}
              % 2) * 2 AS w
      FROM exploded
    )
    SELECT source, CAST(b AS BIGINT) AS b,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * n_chars) AS BIGINT) AS sum_v
    FROM weighted GROUP BY 1, 2
    """,
)
def x_bootstrap_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rademacher multiplier bootstrap of mean document length per
    source (operators/uncertainty.py::bootstrap_moments), 16
    resamples: every (row, b) draws weight 0 or 2 from one md5 bit —
    E[w]=1, Var[w]=1, the Poisson bootstrap's first two moments with
    integer weights and full determinism across retries, partitions,
    and engines.  The surface is the exact per-resample sufficient
    statistics (n_eff, sum_v); the spread of sum_v/n_eff across b IS
    the stderr of the mean, computed caller-side.  Plan: the resample
    axis explodes 16x map-side and contracts to 16 x sources by
    map-side combine in the same stage — one scan, no extra
    shuffle width."""
    from kafka_dead_letter_analyzer_spark.operators import (
        uncertainty as UN,
    )

    docs = load_table(spark, sf_dir, "documents")
    return UN.bootstrap_moments(
        docs, key="doc_id", value_col="n_chars",
        group_cols=["source"], n_resamples=16,
    )


@_register(
    "x_jackknife_doclen",
    f"""
    WITH blocks AS (
      SELECT source,
             {_duck_u32("CAST(doc_id AS VARCHAR) || ':jack:'")}
               % 32 AS blk,
             n_chars
      FROM documents WHERE n_chars IS NOT NULL
    ), per_blk AS (
      SELECT source, blk,
             CAST(count(*) AS BIGINT) AS blk_n,
             CAST(sum(n_chars) AS BIGINT) AS blk_sum
      FROM blocks GROUP BY 1, 2
    )
    SELECT source, CAST(blk AS BIGINT) AS blk,
           CAST(sum(blk_n) OVER (PARTITION BY source) - blk_n
             AS BIGINT) AS loo_n,
           CAST(sum(blk_sum) OVER (PARTITION BY source) - blk_sum
             AS BIGINT) AS loo_sum,
           blk_n, blk_sum
    FROM per_blk
    """,
)
def x_jackknife_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife of mean document length per source
    (operators/uncertainty.py::jackknife_blocks), 32 md5 blocks: each
    output row carries the leave-that-block-out totals next to the
    block's own, derived by a window over the BLOCK CONTRACTION — the
    whole variance-estimator family costs one scan and one
    (source, block) shuffle regardless of block count, where the
    classic delete-one jackknife would be n replicates of nothing at
    1e11 rows."""
    from kafka_dead_letter_analyzer_spark.operators import (
        uncertainty as UN,
    )

    docs = load_table(spark, sf_dir, "documents")
    return UN.jackknife_blocks(
        docs, key="doc_id", value_col="n_chars",
        group_cols=["source"], n_blocks=32,
    )


@_register(
    "x_conformal_threshold",
    """
    WITH ranked AS (
      SELECT source, n_chars, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT source, n_chars AS threshold,
           CAST(n AS BIGINT) AS n, CAST(rn AS BIGINT) AS k
    FROM ranked
    WHERE rn = least(n, (9 * (n + 1) + 9) // 10)
    """,
)
def x_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% calibration threshold of document length per
    source (operators/analytics.py::conformal_threshold): the value at
    rank ceil(0.9*(n+1)) — the finite-sample (n+1) correction gives
    Vovk's coverage guarantee where a plain p90 quantile undercovers.
    alpha = 1/10 as an exact rational keeps the rank pure integer
    arithmetic; the threshold is an actual column element via the same
    single-Exchange sorted window as exact_percentiles."""
    from kafka_dead_letter_analyzer_spark.operators import analytics as AN

    docs = load_table(spark, sf_dir, "documents")
    return AN.conformal_threshold(
        docs, value_col="n_chars", tiebreak="doc_id",
        group_cols=["source"], alpha_num=1, alpha_den=10,
    )


@_register(
    "x_hampel_outliers",
    """
    WITH counts AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS t,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(t) AS t_lo, max(t) AS t_hi
      FROM counts GROUP BY 1
    ), timeline AS (
      SELECT event_type, unnest(generate_series(t_lo, t_hi)) AS t
      FROM span
    ), dense AS (
      SELECT tl.event_type, tl.t, COALESCE(c.x, 0) AS x
      FROM timeline tl LEFT JOIN counts c USING (event_type, t)
    ), arr AS (
      SELECT *, list_sort(list(x) OVER (PARTITION BY event_type
               ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
               AS win
      FROM dense
    ), scored AS (
      SELECT *, win[(len(win) + 1) // 2] AS med
      FROM arr
    ), scored2 AS (
      SELECT *,
             list_sort(list_transform(win, v -> abs(v - med)))
               [(len(win) + 1) // 2] AS mad
      FROM scored
    )
    SELECT event_type, CAST(t * 86400000000 AS BIGINT) AS bucket_us,
           x AS cnt, CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
           (abs(x - med) > 3 * mad) AS flagged
    FROM scored2
    """,
)
@_memo_plan_query("x_hampel_outliers", ["events"])
def x_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel point-outlier filter over per-type daily counts
    (operators/drift.py::hampel_outliers, ±3-day window, k=3): flags
    the single poisoned day that CUSUM absorbs into its level and a
    mean±3sigma rule masks (one 100x spike inflates sigma enough to
    hide itself; the rolling median and MAD have 50% breakdown).
    Medians are actual elements of the sorted 7-long window arrays
    over the DENSIFIED contraction — integers end to end, the flag is
    |cnt - med| > 3*mad in exact arithmetic.  The bucket timestamp
    crosses the oracle boundary as epoch-micros."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events")
    out = DR.hampel_outliers(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day",
        half_window=3, k_num=3, k_den=1,
    )
    return out.select(
        "event_type",
        F.unix_micros("bucket_ts").alias("bucket_us"),
        "cnt",
        "med",
        "mad",
        "flagged",
    )


@_register(
    "x_mann_kendall",
    """
    WITH counts AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS t,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(t) AS t_lo, max(t) AS t_hi
      FROM counts GROUP BY 1
    ), timeline AS (
      SELECT event_type, unnest(generate_series(t_lo, t_hi)) AS t
      FROM span
    ), dense AS (
      SELECT tl.event_type, tl.t, COALESCE(c.x, 0) AS x
      FROM timeline tl LEFT JOIN counts c USING (event_type, t)
    ), s_agg AS (
      SELECT a.event_type,
             CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_stat
      FROM dense a JOIN dense b
        ON a.event_type = b.event_type AND b.t > a.t
      GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(sum(tcnt * (tcnt - 1) * (2 * tcnt + 5)) AS BIGINT)
               AS tie_term,
             CAST(sum(tcnt) AS BIGINT) AS n_buckets
      FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS tcnt
            FROM dense GROUP BY 1, 2) GROUP BY 1
    ), totals AS (
      SELECT event_type, CAST(sum(x) AS BIGINT) AS n FROM dense GROUP BY 1
    )
    SELECT s.event_type, s.s_stat,
           CAST(n_buckets * (n_buckets - 1) * (2 * n_buckets + 5)
             - tie_term AS BIGINT) AS var18,
           n_buckets, n
    FROM s_agg s JOIN ties USING (event_type) JOIN totals USING (event_type)
    """,
)
@_memo_plan_query("x_mann_kendall", ["events"])
def x_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type
    (operators/drift.py::mann_kendall) — the hypothesis-test companion
    of x_theilsen_trend: S = sum sign(x_j - x_i) over the densified
    daily counts, plus the tie-corrected 18*Var(S) kept as an integer
    so the caller forms the z-score.  Same per-group kernel over the
    contraction as Theil-Sen; the two share one capped span probe
    contract."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events")
    return DR.mann_kendall(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day"
    )


@_register(
    "x_contingency_profile",
    """
    WITH cells AS (
      SELECT event_type AS row_cat,
             (epoch_us(ts) % 86400000000) // 3600000000 AS col_cat,
             CAST(count(*) AS BIGINT) AS observed
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), rows_m AS (
      SELECT row_cat, CAST(sum(observed) AS BIGINT) AS row_total
      FROM cells GROUP BY 1
    ), cols_m AS (
      SELECT col_cat, CAST(sum(observed) AS BIGINT) AS col_total
      FROM cells GROUP BY 1
    ), n AS (
      SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells
    )
    SELECT c.row_cat, CAST(c.col_cat AS BIGINT) AS col_cat, c.observed,
           r.row_total, m.col_total, n.n,
           CAST(c.observed * n.n - r.row_total * m.col_total AS BIGINT)
             AS leverage_num
    FROM cells c
    JOIN rows_m r ON c.row_cat IS NOT DISTINCT FROM r.row_cat
    JOIN cols_m m ON c.col_cat IS NOT DISTINCT FROM m.col_cat
    CROSS JOIN n
    """,
)
def x_contingency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency association profile of event type x hour-of-day
    (operators/profile.py::contingency_profile): per cell, the integer
    leverage numerator observed*n - row_total*col_total — sign answers
    over/under-represented vs independence with no division, magnitude
    ranks the cells, and chi-square is derivable caller-side.  One
    (type, hod) count contraction is the full-data shuffle; marginals
    and the n anchor join broadcast."""
    from kafka_dead_letter_analyzer_spark.operators import profile as PR

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn(
            "hod",
            F.expr("(unix_micros(ts) % 86400000000) DIV 3600000000"),
        )
    )
    return PR.contingency_profile(ev, row_col="event_type", col_col="hod")


@_register(
    "x_cusum_quantity_mass",
    """
    WITH counts AS (
      SELECT l_returnflag,
             epoch_us(l_shipdate) - epoch_us(l_shipdate) % 86400000000
               AS bus,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
      FROM lineitem
      WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
        AND l_quantity >= 0
      GROUP BY 1, 2
    ), c0 AS (
      SELECT l_returnflag, bus, x,
             CAST(sum(x) OVER (PARTITION BY l_returnflag ORDER BY bus)
               AS BIGINT) AS p,
             CAST(sum(x) OVER (PARTITION BY l_returnflag) AS BIGINT)
               AS total,
             min(bus) OVER (PARTITION BY l_returnflag) AS min_bus
      FROM counts
    ), c1 AS (
      SELECT *, (bus - min_bus) // 86400000000 + 1 AS t,
             max((bus - min_bus) // 86400000000 + 1)
               OVER (PARTITION BY l_returnflag) AS b
      FROM c0
    ), c2 AS (
      SELECT *, p * b - t * total AS s,
             (p - x) * b - (t - 1) * total AS pre,
             (t = b) AS is_last
      FROM c1
    ), c3 AS (
      SELECT *,
             min(pre) OVER (PARTITION BY l_returnflag ORDER BY bus)
               AS runmin_pre,
             greatest(0, COALESCE(max(s) OVER (PARTITION BY l_returnflag
               ORDER BY bus
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS runmax_s_prev
      FROM c2
    ), c4 AS (
      SELECT *, s - runmin_pre AS up_d,
             CASE WHEN is_last THEN
               greatest(runmax_s_prev - pre,
                        greatest(runmax_s_prev, s) - s)
             ELSE runmax_s_prev - pre END AS down_d
      FROM c3
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY up_d DESC, bus ASC) AS r_up,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY down_d DESC, bus ASC) AS r_dn
      FROM c4
    ), agg AS (
      SELECT l_returnflag,
             max(total) AS n, max(b) AS buckets,
             max(CASE WHEN r_up = 1 THEN bus END) AS up_bus,
             max(CASE WHEN r_up = 1 THEN up_d END) AS up_d,
             max(CASE WHEN r_dn = 1 THEN bus END) AS down_bus,
             max(CASE WHEN r_dn = 1 THEN down_d END) AS down_d
      FROM ranked GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(buckets AS BIGINT) AS buckets,
           CAST(up_bus AS BIGINT) AS up_cp_us,
           CAST(((up_d * 1000) // (n * buckets)) * 1000
             + (((up_d * 1000) % (n * buckets)) * 1000) // (n * buckets)
             AS BIGINT) AS up_ppm,
           CAST(down_bus AS BIGINT) AS down_cp_us,
           CAST(((down_d * 1000) // (n * buckets)) * 1000
             + (((down_d * 1000) % (n * buckets)) * 1000) // (n * buckets)
             AS BIGINT) AS down_ppm
    FROM agg
    """,
)
def x_cusum_quantity_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-MASS CUSUM change-point per return flag
    (operators/drift.py::cusum_changepoint with weight_expr): the
    detector watches where the WEIGHTED mass shifted, which moves when
    big orders migrate across the timeline even while the order COUNT
    holds steady — the n in the ppm scale becomes total quantity, the
    algebra is otherwise the count detector's, exactly.  Int64 bound
    tightens by the mean weight (documented in the operator)."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    li = load_table(spark, sf_dir, "lineitem")
    cp = DR.cusum_changepoint(
        li, ts_col="l_shipdate", group_cols=["l_returnflag"],
        bucket="day", weight_expr="CAST(l_quantity AS BIGINT)",
    )
    return cp.select(
        "l_returnflag",
        "n",
        "buckets",
        F.unix_micros("up_cp_ts").alias("up_cp_us"),
        "up_ppm",
        F.unix_micros("down_cp_ts").alias("down_cp_us"),
        "down_ppm",
    )


@_register(
    "x_rate_autocorr",
    """
    WITH ev AS (
      SELECT epoch_us(ts) // 86400000000 AS t
      FROM events WHERE ts IS NOT NULL AND event_type = 'error'
    ), counts AS (
      SELECT t, CAST(count(*) AS BIGINT) AS x FROM ev GROUP BY 1
    ), span AS (
      SELECT min(t) AS t_lo, max(t) AS t_hi FROM counts
    ), timeline AS (
      SELECT unnest(generate_series(t_lo, t_hi)) AS t FROM span
    ), dense AS (
      SELECT tl.t, COALESCE(c.x, 0) AS x
      FROM timeline tl LEFT JOIN counts c USING (t)
    ), lags AS (
      SELECT unnest(generate_series(0, 7)) AS lag
    ), paired AS (
      SELECT l.lag, a.x AS x, b.x AS y
      FROM dense a CROSS JOIN lags l
      JOIN dense b ON b.t = a.t + l.lag
    ), xc AS (
      SELECT lag, x, CAST(count(*) AS BIGINT) AS c
      FROM paired GROUP BY 1, 2
    ), xm AS (
      SELECT lag, x AS xv,
             2 * CAST(COALESCE(sum(c) OVER (PARTITION BY lag ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) + c
               - CAST(sum(c) OVER (PARTITION BY lag) AS BIGINT) AS dx
      FROM xc
    ), yc AS (
      SELECT lag, y, CAST(count(*) AS BIGINT) AS c
      FROM paired GROUP BY 1, 2
    ), ym AS (
      SELECT lag, y AS yv,
             2 * CAST(COALESCE(sum(c) OVER (PARTITION BY lag ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) + c
               - CAST(sum(c) OVER (PARTITION BY lag) AS BIGINT) AS dy
      FROM yc
    ), joined AS (
      SELECT p.lag, xm.dx, ym.dy
      FROM paired p
      JOIN xm ON xm.lag = p.lag AND xm.xv = p.x
      JOIN ym ON ym.lag = p.lag AND ym.yv = p.y
    ), agg AS (
      SELECT lag,
             CAST(sum(dx * dy) AS BIGINT) AS num,
             CAST(sum(dx * dx) AS BIGINT) AS den_x,
             CAST(sum(dy * dy) AS BIGINT) AS den_y,
             CAST(count(*) AS BIGINT) AS n
      FROM joined GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, num, den_x, den_y, n,
           CAST(floor(num * 1000000.0 /
             (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_y AS DOUBLE)))
             + 0.5) AS BIGINT) AS rho_e6
    FROM agg WHERE den_x > 0 AND den_y > 0
    """,
)
def x_rate_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank AUTOCORRELATION of the error daily-rate series at lags
    0..7 — leadlag_spearman with both categories set to 'error': the
    persistence fingerprint (how many days does an elevated error rate
    echo?), lag 0 pinning rho = 1e6 as the built-in sanity row.  Zero
    new operator code — the query demonstrates the lead-lag machinery
    degrades correctly to self-correlation (A and B densify to the
    SAME series; only the offset join differs per lag)."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    # r14: built plan memoized (see _memo_plan) — construction re-paid
    # leadlag's worst-span guard probe per invocation
    return _memo_plan(
        spark,
        sf_dir,
        "x_rate_autocorr",
        ["events"],
        lambda: DR.leadlag_spearman(
            load_table(spark, sf_dir, "events"),
            ts_col="ts", cat_col="event_type",
            cat_a="error", cat_b="error", max_lag=7, bucket="day",
        ),
    )


_DRIFT_REPORT_ORACLE = f"""
    SELECT c.event_type,
           c.n, c.up_ppm, c.down_ppm,
           t.slope_num, t.slope_den,
           mk.s_stat, mk.var18,
           h.flagged_days,
           s.max_hour_ratio_e6
    FROM ({_ORACLES["x_cusum_changepoint"]}) c
    JOIN ({_ORACLES["x_theilsen_trend"]}) t USING (event_type)
    JOIN (
      SELECT event_type, s_stat, var18
      FROM ({_ORACLES["x_mann_kendall"]})
    ) mk USING (event_type)
    JOIN (
      SELECT event_type,
             CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS flagged_days
      FROM ({_ORACLES["x_hampel_outliers"]}) GROUP BY 1
    ) h USING (event_type)
    JOIN (
      SELECT event_type, CAST(max(ratio_e6) AS BIGINT)
               AS max_hour_ratio_e6
      FROM ({_ORACLES["x_seasonal_anomaly"]}) GROUP BY 1
    ) s USING (event_type)
"""


_PLAN_MEMO: dict = {}


def _memo_plan(spark, sf_dir, name, tables, build):
    """Generic BUILT-PLAN memo — the r13.17 bm25-ranker / r13.21
    topology / r14 drift-report pattern factored out for the remaining
    construction-heavy declared queries: memoizes the DataFrame
    ``build()`` returns per (session, sf_dir, query name, and the
    mtime_ns/size of every input parquet in ``tables``), so a warm
    re-invocation skips the Python/py4j plan re-build and any
    construction-time guard probes (their outcome is a function of the
    keyed inputs).  PLAN METADATA ONLY — no row data crosses
    invocations: internal persists the build registers with
    cache_registry are captured by a registry snapshot diff and
    re-armed on every hit (the bench's release_all()/clearCache()
    boundary unpersists them between queries), so every forced action
    still computes from the parquet inputs.  NOT applicable to queries
    whose construction embeds computed data in the returned plan
    (driver-localized CC/kmeans/pagerank/KLL results) — memoizing
    those would cache results, which the bench forbids."""
    import os as _os

    from pyspark import StorageLevel

    from kafka_dead_letter_analyzer_spark.sources.batch import _session_key

    key = None
    try:
        stats = tuple(
            (t, st.st_mtime_ns, st.st_size)
            for t in tables
            for st in (_os.stat(f"{sf_dir}/{t}.parquet"),)
        )
        key = (_session_key(spark), sf_dir, name, stats)
    except OSError:
        pass  # let load_table surface the reader's own error
    got = _PLAN_MEMO.get(key) if key is not None else None
    if got is None:
        before = {id(f) for f in cache_registry.snapshot()}
        out = build()
        internal = [
            f for f in cache_registry.snapshot() if id(f) not in before
        ]
        arm = [(f, f.storageLevel) for f in internal]
        got = (out, arm)
        if key is not None:
            if len(_PLAN_MEMO) >= 256:  # tests touch many tmp dirs
                _PLAN_MEMO.clear()
            _PLAN_MEMO[key] = got
    out, arm = got
    for frame, level in arm:
        if frame.storageLevel == StorageLevel.NONE:
            cache_registry.track(frame.persist(level))
    # Return a FRESH thin projection per call, not the memoized object:
    # a DataFrame's queryExecution (physical plan, explain text) is
    # computed once and frozen, so handing out the same object makes
    # its plan text depend on whatever cache state existed at its first
    # use (a plan-pin test elsewhere saw a salted window disappear into
    # an abbreviated cached-subtree print).  select("*") re-plans
    # against the CURRENT (just re-armed) cache state — pure JVM
    # analysis over the already-analyzed child, no py4j tree rebuild.
    return out.select("*")


def _drift_report_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized x_drift_report plan per (session, events.parquet
    mtime/size): each warm invocation rebuilt five detector plans over
    the shared contraction (~1.1 s of py4j plan-building) plus the
    worst-span guard probe.  See ``_memo_plan``."""
    return _memo_plan(
        spark,
        sf_dir,
        "x_drift_report",
        ["events"],
        lambda: _build_drift_report(spark, sf_dir),
    )


def _build_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-type drift DASHBOARD joining the four detectors the
    library ships — the capstone composition: CUSUM's strongest
    up/down level shift (x_cusum_changepoint), the Theil-Sen robust
    trend rational (x_theilsen_trend), the Mann-Kendall test statistics
    (x_mann_kendall — is the trend SIGNIFICANT), the count of
    Hampel-flagged poisoned days (x_hampel_outliers), and the worst
    seasonal hour-of-day ratio (x_seasonal_anomaly).  Each component is its own
    independently oracle-verified query; the report reuses them
    verbatim (the oracle literally joins the registered oracle SQLs as
    subqueries), and the join keys on the handful of event types —
    broadcast-sized by construction.

    Scale/warm shape: the four timeline detectors all start from the
    SAME (event_type, day, n) contraction, so the report builds it
    once (operators/drift.py::bucket_counts), persists it, and hands
    it to each detector via ``counts_df`` — one events scan + one
    (type, day) shuffle instead of four, and the three span-probe
    driver actions (theilsen/hampel/mann-kendall, construction-time)
    hit the cache instead of re-scanning events.  Identical output by
    construction: the shared contraction is byte-for-byte the frame
    each detector previously built inline (cusum's micros bucket key
    is ``t * day_us``, exact under truncation-toward-zero), and each
    standalone detector query stays on its own inline build.
    x_seasonal_anomaly contracts by hour-of-day, not day — it keeps
    its own scan."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ev = load_table(spark, sf_dir, "events")
    daily = cache_registry.track(
        DR.bucket_counts(
            ev, ts_col="ts", group_cols=["event_type"], bucket="day"
        ).persist()
    )
    cusum = DR.cusum_changepoint(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day",
        counts_df=daily,
    ).select("event_type", "n", "up_ppm", "down_ppm")
    trend = DR.theilsen_trend(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day",
        counts_df=daily,
    ).select("event_type", "slope_num", "slope_den")
    mk = DR.mann_kendall(
        ev, ts_col="ts", group_cols=["event_type"], bucket="day",
        counts_df=daily,
    ).select("event_type", "s_stat", "var18")
    hampel = (
        DR.hampel_outliers(
            ev, ts_col="ts", group_cols=["event_type"], bucket="day",
            half_window=3, k_num=3, k_den=1, counts_df=daily,
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("flagged"), 1).otherwise(0))
            .cast("bigint")
            .alias("flagged_days")
        )
    )
    seasonal = (
        x_seasonal_anomaly(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.max("ratio_e6").cast("bigint").alias("max_hour_ratio_e6"))
    )
    return (
        cusum.join(trend, "event_type")
        .join(mk, "event_type")
        .join(hampel, "event_type")
        .join(seasonal, "event_type")
    )


@_register("x_drift_report", _DRIFT_REPORT_ORACLE)
def x_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared surface for the drift dashboard — the composition
    itself lives in ``_build_drift_report`` (docstring there); this
    wrapper memoizes the BUILT PLAN per (session, events.parquet
    mtime/size) via ``_drift_report_frame`` (the r13.17 ranker-chain
    pattern): five detector plans over the shared daily contraction
    cost ~1.1 s of py4j plan-building per warm invocation.  Plan
    metadata only — the contraction persist is re-armed per call and
    every forced action recomputes from parquet."""
    return _drift_report_frame(spark, sf_dir)


@_register(
    "x_leakage_safe_split",
    f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    e AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    n AS (SELECT DISTINCT s AS id FROM e),
    cc(id, lab) AS (
      SELECT id, id FROM n
      UNION
      SELECT e.d, cc.lab FROM cc JOIN e ON e.s = cc.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS component FROM cc GROUP BY id),
    keyed AS (
      SELECT d.lang, d.doc_id,
             COALESCE(c.component, d.doc_id) AS split_key,
             (c.component IS NOT NULL) AS clustered
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    assigned AS (
      SELECT lang, doc_id, clustered,
             CASE WHEN h < {_SPLIT_HI1} THEN 'train'
                  WHEN h < {_SPLIT_HI2} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, doc_id, clustered,
               list_sum([(strpos('0123456789abcdef',
                   md5(CAST(split_key AS VARCHAR) || ':split')[i]) - 1)
                   * ([{_HEX8_POWS}][i])::BIGINT
                   for i in range(1, 9)]) AS h
        FROM keyed
      )
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(sum(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered
    FROM assigned GROUP BY split, lang
    """,
)
def x_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: documents are assigned by the
    salted hash of their near-dup CLUSTER representative (the connected
    component's min id; unclustered docs hash their own id) — so two
    near-duplicates can NEVER straddle the train/eval boundary, which
    is the contamination mode a plain per-doc hash split (x_hash_split)
    cannot prevent: a paraphrase of a test document lands in train with
    probability 0 here, ~80% there.  Composition: minhash pairs
    (exact-verified) -> connected components -> coalesce(component,
    doc_id) -> the SAME salted hash_split; the only cost over the plain
    split is the dedup pass a training pipeline runs anyway.  Surface:
    per (split, lang) counts with min_doc_id pinning membership and
    n_clustered pinning how many assignments flowed through a cluster
    rep.  Zero-straddle is asserted as an invariant in tests."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_near_minhash(
        docs, num_hashes=64, bands=32, threshold=0.5
    )
    comp = G.connected_components(
        pairs, src="id_a", dst="id_b"
    ).withColumnRenamed("id", "doc_id")
    keyed = docs.join(comp, "doc_id", "left").select(
        "lang",
        "doc_id",
        F.coalesce("component", "doc_id").alias("split_key"),
        F.col("component").isNotNull().alias("clustered"),
    )
    assigned = SA.hash_split(keyed, key="split_key", fractions=_SPLIT_FRACS)
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.sum(F.when(F.col("clustered"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clustered"),
    )


@_register(
    "x_krippendorff",
    f"""
    WITH docs AS (
      SELECT source, doc_id, lang, {TX.lang_id_sql('text')} AS pred,
             n_chars
      FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
        AND text IS NOT NULL AND doc_id IS NOT NULL
        AND n_chars IS NOT NULL
    ), long AS (
      SELECT source, doc_id, lang AS lab FROM docs
      UNION ALL
      SELECT source, doc_id, pred FROM docs WHERE n_chars % 7 <> 0
      UNION ALL
      SELECT source, doc_id,
             CASE WHEN n_chars % 3 = 0 THEN lang ELSE pred END
      FROM docs WHERE n_chars % 5 <> 0
    ), cells AS (
      SELECT source, doc_id, lab, CAST(count(*) AS BIGINT) AS c
      FROM long GROUP BY 1, 2, 3
    ), item AS (
      SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS ni,
             CAST(sum(c * c) AS BIGINT) AS ssq
      FROM cells GROUP BY 1, 2
    ), pair AS (
      SELECT * FROM item WHERE ni >= 2
    ), gstat AS (
      SELECT source, CAST(sum(ni) AS BIGINT) AS n_ratings,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum((ni * ni - ssq) * (27720 // (ni - 1)))
               AS BIGINT) AS do_num
      FROM pair GROUP BY 1
    ), alls AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_items_all
      FROM item GROUP BY 1
    ), cat AS (
      SELECT ce.source, ce.lab, CAST(sum(ce.c) AS BIGINT) AS cj
      FROM cells ce JOIN pair p
        ON p.source = ce.source AND p.doc_id = ce.doc_id
      GROUP BY 1, 2
    ), scc AS (
      SELECT source, CAST(sum(cj * cj) AS BIGINT) AS s_cc
      FROM cat GROUP BY 1
    )
    SELECT g.source, g.n_ratings, g.n_items,
           CAST(a.n_items_all - g.n_items AS BIGINT) AS n_items_dropped,
           CAST(((g.do_num * 1000) // (27720 * g.n_ratings)) * 1000
             + (((g.do_num * 1000) % (27720 * g.n_ratings)) * 1000)
               // (27720 * g.n_ratings) AS BIGINT) AS do_ppm,
           CAST((((g.n_ratings * g.n_ratings - s.s_cc) * 1000)
               // (g.n_ratings * (g.n_ratings - 1))) * 1000
             + ((((g.n_ratings * g.n_ratings - s.s_cc) * 1000)
                 % (g.n_ratings * (g.n_ratings - 1))) * 1000)
               // (g.n_ratings * (g.n_ratings - 1)) AS BIGINT) AS de_ppm
    FROM gstat g
    JOIN alls a ON a.source = g.source
    JOIN scc s ON s.source = g.source
    """,
)
@_memo_plan_query("x_krippendorff", ["documents"])
def x_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha sufficient statistics over a 3-annotator
    panel WITH MISSING RATINGS per source
    (operators/ranking.py::krippendorff_alpha): rater 1 = the
    documents' lang column (always rates), rater 2 = the heuristic
    lang-id ABSTAINING on every 7th doc, rater 3 = the mixed rater
    ABSTAINING on every 5th doc — so items carry 3, 2, or (when both
    abstain, n_chars % 35 == 0) just 1 rating.  This is exactly the
    panel shape Fleiss' kappa must throw away (x_fleiss_agreement
    drops every incomplete item); Krippendorff keeps the 2-rating
    items via the 1/(n_u - 1) pair weighting and drops only the
    unpairable singletons, surfaced in n_items_dropped.  alpha =
    1 - do/de stays caller-side (can be negative).  Plan: ONE
    documents scan (array-explode panel, not a 3-way union — a union
    re-scans the 100 TB fact once per rater), one (source, doc_id,
    label) contraction shuffle, then contraction-sized reductions."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
        & F.col("source").isNotNull()
        & F.col("text").isNotNull()
        & F.col("doc_id").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    pred = TX.with_lang_id(
        docs.select("source", "doc_id", "lang", "text", "n_chars")
    ).select("source", "doc_id", "lang", "pred_lang", "n_chars")
    ratings = pred.select(
        "source",
        "doc_id",
        F.explode(
            F.array(
                F.col("lang"),
                # rater 2 abstains on every 7th doc (NULL label)
                F.when(F.col("n_chars") % 7 != 0, F.col("pred_lang")),
                # rater 3 abstains on every 5th doc
                F.when(
                    F.col("n_chars") % 5 != 0,
                    F.when(F.col("n_chars") % 3 == 0, F.col("lang"))
                    .otherwise(F.col("pred_lang")),
                ),
            )
        ).alias("lab"),
    )
    return RK.krippendorff_alpha(
        ratings, item_col="doc_id", label_col="lab",
        group_cols=["source"],
    )


@_register(
    "x_weighted_kappa",
    f"""
    WITH d AS (
      SELECT source,
             least(n_chars // 120, 4) AS a,
             least((len(regexp_extract_all(lower(text),
                     '{TX.ANY_STOPWORD_RE}')) * 30)
               // greatest({TX.token_count_sql('text')}, 1), 4) AS b
      FROM documents
      WHERE source IS NOT NULL AND text IS NOT NULL
        AND n_chars IS NOT NULL
    ), cells AS (
      SELECT source, a, b, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY 1, 2, 3
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum((a - b) * (a - b) * c) AS BIGINT) AS swo
      FROM cells GROUP BY 1
    ), rows_m AS (
      SELECT source, a, CAST(sum(c) AS BIGINT) AS r
      FROM cells GROUP BY 1, 2
    ), cols_m AS (
      SELECT source, b, CAST(sum(c) AS BIGINT) AS cc
      FROM cells GROUP BY 1, 2
    ), s AS (
      SELECT r.source,
             CAST(sum((r.a - c.b) * (r.a - c.b) * r.r * c.cc)
               AS BIGINT) AS swe
      FROM rows_m r JOIN cols_m c ON c.source = r.source
      GROUP BY 1
    )
    SELECT t.source, t.n, t.swo,
           CASE WHEN COALESCE(s.swe, 0) = 0 THEN NULL
             ELSE CAST(((t.n * t.swo * 1000) // s.swe) * 1000
               + (((t.n * t.swo * 1000) % s.swe) * 1000) // s.swe
               AS BIGINT) END AS ratio_ppm
    FROM tot t LEFT JOIN s ON s.source = t.source
    """,
)
def x_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa sufficient statistics between
    two ORDINAL 0-4 quality raters per source
    (operators/ranking.py::cohens_kappa_weighted): rater A buckets
    documents by length (n_chars DIV 120, capped at 4), rater B by
    stopword density ((n_stop * 30) DIV n_tokens, capped) — the
    does-my-cheap-length-heuristic-track-the-linguistic-one audit,
    where disagreeing by one grade costs 1 and by four grades costs
    16.  kappa_w = 1 - ratio_ppm/1e6 caller-side (negative exactly
    when ratio_ppm > 1e6).  Plan: one codegen projection computes
    both ordinals in the same scan, then ONE (source, a, b)
    contraction shuffle and label-domain-sized marginal products."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
        & F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    n_tokens = TX.token_count("text")
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(TX.ANY_STOPWORD_RE), F.lit(0)
        )
    )
    # (density - density % tokens) / tokens: the numerator is made
    # exactly divisible first, so the float division yields an exact
    # integer (both operands far under 2^53) — equal to DuckDB's //
    density = (n_stop.cast("bigint") * 30).cast("bigint")
    tokens = F.greatest(n_tokens.cast("bigint"), F.lit(1).cast("bigint"))
    rated = docs.select(
        "source",
        F.least(F.expr("n_chars DIV 120"), F.lit(4).cast("bigint"))
        .cast("bigint")
        .alias("a"),
        F.least(
            (density - density % tokens) / tokens,
            F.lit(4).cast("bigint"),
        )
        .cast("bigint")
        .alias("b"),
    )
    return RK.cohens_kappa_weighted(
        rated, rater_a="a", rater_b="b", group_cols=["source"],
        weights="quadratic",
    )


@_register(
    "x_semdedup",
    """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                            for x in embedding])) AS nrm
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ), dup AS (
      SELECT DISTINCT b.vec_id AS vid
      FROM n a, n b
      WHERE a.vec_id < b.vec_id
        -- zero vectors never match (operator sets their norm to inf);
        -- without the guard DuckDB's 0/0 = NaN orders ABOVE all values
        AND a.nrm > 0 AND b.nrm > 0
        AND round(list_sum([CAST(a.embedding[i] AS DOUBLE)
                            * CAST(b.embedding[i] AS DOUBLE)
                            for i in range(1, len(a.embedding) + 1)])
                  / (a.nrm * b.nrm), 6) >= 0.4
    )
    SELECT e.vec_id, CAST(0 AS INTEGER) AS cell,
           e.vec_id IN (SELECT vid FROM dup) AS is_dup
    FROM embeddings e
    WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL
    """,
)
def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication flags in the EXHAUSTIVE
    configuration (operators/similarity.py::semdedup, n_clusters=1 ->
    one cell, exact over all pairs) so the whole keep/drop surface —
    unit-gram cosine, 6-decimal rounding, dominated-by-earlier-id
    rule — is oracle-checked per vector, not just pair counts.  The
    clustered scale path (pair work sum(|cell|^2) instead of n^2) is
    pinned in tests as a strict SUBSET of these exhaustive drops with
    planted same-cell duplicates caught.  (threshold 0.4 tuned to the
    synthetic embeddings' similarity range, matching
    x_dedup_embedding; production semantic dedup would use ~0.95.)"""
    return S.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_clusters=1,
    )


@_register(
    "x_ngram_typicality",
    """
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), grams AS (
      SELECT doc_id,
             unnest([t[i] || ' ' || t[i + 1]
                     for i in range(1, len(t))]) AS g
      FROM toks
    ), counts AS (
      SELECT g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY g
    ), agg AS (
      SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
             CAST(sum(c.c) AS BIGINT) AS sum_freq,
             CAST(min(c.c) AS BIGINT) AS min_freq
      FROM grams gr JOIN counts c ON c.g = gr.g GROUP BY 1
    )
    SELECT tk.doc_id,
           CAST(COALESCE(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(COALESCE(a.sum_freq, 0) AS BIGINT) AS sum_freq,
           a.min_freq,
           CASE WHEN a.n_ngrams IS NULL THEN NULL
             ELSE CAST(((a.sum_freq * 1000) // a.n_ngrams) * 1000
               + (((a.sum_freq * 1000) % a.n_ngrams) * 1000)
                 // a.n_ngrams AS BIGINT)
           END AS typicality_ppm
    FROM toks tk LEFT JOIN agg a ON a.doc_id = tk.doc_id
    """,
)
def x_ngram_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram typicality per document
    (operators/text.py::ngram_typicality, n=2): the integer-exact
    LM-perplexity proxy — mean corpus frequency of the document's
    bigrams in ppm, plus the rarest bigram's corpus count (min_freq=1
    flags corpus-unique content).  A CCNet-style quality gate without
    a float log anywhere, so the whole score is oracle-hashable.
    Plan (the skew-safe default, method='join'): (doc, gram)
    pre-contraction spreads every Zipf-head gram across its documents
    before anything shuffles by gram alone, then an AQE-skew-
    splittable gram-keyed join delivers corpus counts back — no
    Window node anywhere, so no one-task-per-gram bound (pinned).
    The single-scan window strategy remains as the explicit
    small-corpus opt-in, hash-gate-equal via
    x_ngram_typicality_window."""
    return TX.ngram_typicality(
        load_table(spark, sf_dir, "documents"), n=2
    )


@_register(
    "x_bleu_pairs",
    """
    WITH p AS (
      SELECT doc_id AS pair_id, text AS candidate,
             lead(text) OVER (PARTITION BY source ORDER BY doc_id)
               AS reference
      FROM documents
      WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ), base AS (
      SELECT pair_id,
             regexp_extract_all(lower(coalesce(candidate, '')),
                                '[a-z0-9]+') AS ct,
             regexp_extract_all(lower(coalesce(reference, '')),
                                '[a-z0-9]+') AS rt
      FROM p
    ), grams AS (
      SELECT pair_id, 1 AS n, 'c' AS side,
             unnest([array_to_string(ct[i:i + 0], ' ')
                     for i in range(1, len(ct) - 1 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 1 AS n, 'r' AS side,
             unnest([array_to_string(rt[i:i + 0], ' ')
                     for i in range(1, len(rt) - 1 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 2 AS n, 'c' AS side,
             unnest([array_to_string(ct[i:i + 1], ' ')
                     for i in range(1, len(ct) - 2 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 2 AS n, 'r' AS side,
             unnest([array_to_string(rt[i:i + 1], ' ')
                     for i in range(1, len(rt) - 2 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 3 AS n, 'c' AS side,
             unnest([array_to_string(ct[i:i + 2], ' ')
                     for i in range(1, len(ct) - 3 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 3 AS n, 'r' AS side,
             unnest([array_to_string(rt[i:i + 2], ' ')
                     for i in range(1, len(rt) - 3 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 4 AS n, 'c' AS side,
             unnest([array_to_string(ct[i:i + 3], ' ')
                     for i in range(1, len(ct) - 4 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 4 AS n, 'r' AS side,
             unnest([array_to_string(rt[i:i + 3], ' ')
                     for i in range(1, len(rt) - 4 + 2)]) AS g
      FROM base
    ), cells AS (
      SELECT pair_id, n, g,
             sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc,
             sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr
      FROM grams GROUP BY 1, 2, 3
    ), clip AS (
      SELECT pair_id,
             CAST(sum(CASE WHEN n = 1 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_1,
             CAST(sum(CASE WHEN n = 2 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_2,
             CAST(sum(CASE WHEN n = 3 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_3,
             CAST(sum(CASE WHEN n = 4 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_4
      FROM cells GROUP BY 1
    )
    SELECT b.pair_id,
           CAST(len(b.ct) AS BIGINT) AS cand_len,
           CAST(len(b.rt) AS BIGINT) AS ref_len,
           CAST(COALESCE(c.clipped_1, 0) AS BIGINT) AS clipped_1,
           CAST(COALESCE(c.clipped_2, 0) AS BIGINT) AS clipped_2,
           CAST(COALESCE(c.clipped_3, 0) AS BIGINT) AS clipped_3,
           CAST(COALESCE(c.clipped_4, 0) AS BIGINT) AS clipped_4,
           CAST(greatest(len(b.ct) - 0, 0) AS BIGINT) AS total_1,
           CAST(greatest(len(b.ct) - 1, 0) AS BIGINT) AS total_2,
           CAST(greatest(len(b.ct) - 2, 0) AS BIGINT) AS total_3,
           CAST(greatest(len(b.ct) - 3, 0) AS BIGINT) AS total_4,
           CAST(len(b.rt) AS BIGINT) AS ref_total_1,
           CAST(greatest(len(b.rt) - 1, 0) AS BIGINT) AS ref_total_2,
           CAST(greatest(len(b.rt) - 2, 0) AS BIGINT) AS ref_total_3,
           CAST(greatest(len(b.rt) - 3, 0) AS BIGINT) AS ref_total_4
    FROM base b LEFT JOIN clip c ON c.pair_id = b.pair_id
    """,
)
def x_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU sufficient statistics (operators/text.py::bleu_stats,
    max_n=4) over a deterministic eval fixture: each document as the
    candidate against the NEXT document in its source (window lead)
    as the reference — the how-much-does-generation-overlap-reference
    shape; the last doc per source gets an empty reference (clipped
    0, a legitimate eval outcome, kept not dropped).  All clipped /
    total counts are int64 — and since the clipped sum is symmetric,
    the same row serves BLEU precision (clipped/total) AND ROUGE-N
    recall (clipped/ref_total, Lin 2004); float steps caller-side.
    Plan (r13 optimization): one scan, one window lead (per-source),
    the pinned pre-kernel rebalance, then ONE Arrow MapInPandas
    kernel — per-pair clipped counts are a pure per-row map, so no
    Generate, no aggregation, no join between the sides (the
    retained impl='expr' explosion path is the differential
    witness)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("candidate"),
        F.lead("text").over(w).alias("reference"),
    )
    return TX.bleu_stats(pairs, max_n=4)


def x_ngram_typicality_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-scan window strategy of x_ngram_typicality
    (method='window', the explicit small-corpus opt-in since round 11
    — the headline/default is the skew-robust join plan, because the
    window's one-task-per-gram bound breaks on any Zipf-head gram at
    true 100 TB and AQE cannot split window partitions).  Registered
    against the SAME oracle, so the driver hash gate proves the two
    physical strategies compute identical results."""
    return TX.ngram_typicality(
        load_table(spark, sf_dir, "documents"), n=2, method="window"
    )


_QUERIES["x_ngram_typicality_window"] = x_ngram_typicality_window
_ORACLES["x_ngram_typicality_window"] = _ORACLES["x_ngram_typicality"]


@_register(
    "x_krippendorff_interval",
    f"""
    WITH docs AS (
      SELECT source, doc_id, n_chars,
             least(n_chars // 120, 4) AS a,
             least((len(regexp_extract_all(lower(text),
                     '{TX.ANY_STOPWORD_RE}')) * 30)
               // greatest({TX.token_count_sql('text')}, 1), 4) AS b
      FROM documents
      WHERE source IS NOT NULL AND text IS NOT NULL
        AND doc_id IS NOT NULL AND n_chars IS NOT NULL
    ), long AS (
      SELECT source, doc_id, CAST(a AS BIGINT) AS lab FROM docs
      UNION ALL
      SELECT source, doc_id, CAST(b AS BIGINT) FROM docs
      WHERE n_chars % 7 <> 0
      UNION ALL
      SELECT source, doc_id, CAST((a + b) // 2 AS BIGINT) FROM docs
      WHERE n_chars % 5 <> 0
    ), cells AS (
      SELECT source, doc_id, lab, CAST(count(*) AS BIGINT) AS c
      FROM long GROUP BY 1, 2, 3
    ), item AS (
      SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS ni,
             CAST(sum(c * lab) AS BIGINT) AS s1,
             CAST(sum(c * lab * lab) AS BIGINT) AS s2
      FROM cells GROUP BY 1, 2
    ), pair AS (
      SELECT * FROM item WHERE ni >= 2
    ), gstat AS (
      SELECT source, CAST(sum(ni) AS BIGINT) AS n_ratings,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(2 * (ni * s2 - s1 * s1)
                      * (27720 // (ni - 1))) AS BIGINT) AS do_num,
             CAST(sum(s1) AS BIGINT) AS s1a,
             CAST(sum(s2) AS BIGINT) AS s2a
      FROM pair GROUP BY 1
    ), alls AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_items_all
      FROM item GROUP BY 1
    )
    SELECT g.source, g.n_ratings, g.n_items,
           CAST(a.n_items_all - g.n_items AS BIGINT) AS n_items_dropped,
           CAST(((g.do_num * 1000) // (27720 * g.n_ratings)) * 1000
             + (((g.do_num * 1000) % (27720 * g.n_ratings)) * 1000)
               // (27720 * g.n_ratings) AS BIGINT) AS do_ppm,
           CAST(((2 * (g.n_ratings * g.s2a - g.s1a * g.s1a) * 1000)
               // (g.n_ratings * (g.n_ratings - 1))) * 1000
             + (((2 * (g.n_ratings * g.s2a - g.s1a * g.s1a) * 1000)
                 % (g.n_ratings * (g.n_ratings - 1))) * 1000)
               // (g.n_ratings * (g.n_ratings - 1)) AS BIGINT) AS de_ppm
    FROM gstat g JOIN alls a ON a.source = g.source
    """,
)
def x_krippendorff_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha, INTERVAL metric, over a 3-rater ordinal
    panel with missing ratings per source
    (operators/ranking.py::krippendorff_alpha, metric='interval'):
    rater 1 = the 0-4 length bucket (always rates), rater 2 = the
    stopword-density bucket ABSTAINING on every 7th doc, rater 3 =
    their midpoint ABSTAINING on every 5th — so disagreeing by one
    grade costs 1 and by four grades costs 16, on the panel shape
    (2-3 ratings per item, singletons dropped) Fleiss cannot keep.
    The interval De needs NO pooled-category contraction — its pooled
    terms are sums of the item sums (the pair-sum identity).  Plan:
    ONE documents scan (array-explode panel), one (source, doc_id,
    label) contraction, group contractions."""
    from kafka_dead_letter_analyzer_spark.operators import ranking as RK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
        & F.col("text").isNotNull()
        & F.col("doc_id").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    n_tokens = TX.token_count("text")
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(TX.ANY_STOPWORD_RE), F.lit(0)
        )
    )
    density = (n_stop.cast("bigint") * 30).cast("bigint")
    tokens = F.greatest(n_tokens.cast("bigint"), F.lit(1).cast("bigint"))
    rated = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.least(F.expr("n_chars DIV 120"), F.lit(4).cast("bigint"))
        .cast("bigint")
        .alias("a"),
        F.least(
            (density - density % tokens) / tokens,
            F.lit(4).cast("bigint"),
        )
        .cast("bigint")
        .alias("b"),
    )
    ratings = rated.select(
        "source",
        "doc_id",
        F.explode(
            F.array(
                F.col("a"),
                F.when(F.col("n_chars") % 7 != 0, F.col("b")),
                F.when(
                    F.col("n_chars") % 5 != 0,
                    F.expr("(a + b) DIV 2"),
                ),
            )
        ).alias("lab"),
    )
    return RK.krippendorff_alpha(
        ratings, item_col="doc_id", label_col="lab",
        group_cols=["source"], metric="interval",
    )


@_register(
    "x_chrf_pairs",
    """
    WITH p AS (
      SELECT doc_id AS pair_id, text AS candidate,
             lead(text) OVER (PARTITION BY source ORDER BY doc_id)
               AS reference
      FROM documents
      WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ), base AS (
      SELECT pair_id,
             regexp_replace(lower(coalesce(candidate, '')),
                            '\\s+', '', 'g') AS cs,
             regexp_replace(lower(coalesce(reference, '')),
                            '\\s+', '', 'g') AS rs
      FROM p
    ), grams AS (
      SELECT pair_id, 1 AS n, 'c' AS side,
             unnest([substring(cs, i, 1)
                     for i in range(1, length(cs) - 1 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 1 AS n, 'r' AS side,
             unnest([substring(rs, i, 1)
                     for i in range(1, length(rs) - 1 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 2 AS n, 'c' AS side,
             unnest([substring(cs, i, 2)
                     for i in range(1, length(cs) - 2 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 2 AS n, 'r' AS side,
             unnest([substring(rs, i, 2)
                     for i in range(1, length(rs) - 2 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 3 AS n, 'c' AS side,
             unnest([substring(cs, i, 3)
                     for i in range(1, length(cs) - 3 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 3 AS n, 'r' AS side,
             unnest([substring(rs, i, 3)
                     for i in range(1, length(rs) - 3 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 4 AS n, 'c' AS side,
             unnest([substring(cs, i, 4)
                     for i in range(1, length(cs) - 4 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 4 AS n, 'r' AS side,
             unnest([substring(rs, i, 4)
                     for i in range(1, length(rs) - 4 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 5 AS n, 'c' AS side,
             unnest([substring(cs, i, 5)
                     for i in range(1, length(cs) - 5 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 5 AS n, 'r' AS side,
             unnest([substring(rs, i, 5)
                     for i in range(1, length(rs) - 5 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 6 AS n, 'c' AS side,
             unnest([substring(cs, i, 6)
                     for i in range(1, length(cs) - 6 + 2)]) AS g
      FROM base
      UNION ALL
      SELECT pair_id, 6 AS n, 'r' AS side,
             unnest([substring(rs, i, 6)
                     for i in range(1, length(rs) - 6 + 2)]) AS g
      FROM base
    ), cells AS (
      SELECT pair_id, n, g,
             sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc,
             sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr
      FROM grams GROUP BY 1, 2, 3
    ), clip AS (
      SELECT pair_id,
             CAST(sum(CASE WHEN n = 1 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_1,
             CAST(sum(CASE WHEN n = 2 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_2,
             CAST(sum(CASE WHEN n = 3 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_3,
             CAST(sum(CASE WHEN n = 4 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_4,
             CAST(sum(CASE WHEN n = 5 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_5,
             CAST(sum(CASE WHEN n = 6 THEN least(cc, cr) ELSE 0 END) AS BIGINT) AS clipped_6
      FROM cells GROUP BY 1
    )
    SELECT b.pair_id,
           CAST(length(b.cs) AS BIGINT) AS cand_len,
           CAST(length(b.rs) AS BIGINT) AS ref_len,
           CAST(COALESCE(c.clipped_1, 0) AS BIGINT) AS clipped_1,
           CAST(COALESCE(c.clipped_2, 0) AS BIGINT) AS clipped_2,
           CAST(COALESCE(c.clipped_3, 0) AS BIGINT) AS clipped_3,
           CAST(COALESCE(c.clipped_4, 0) AS BIGINT) AS clipped_4,
           CAST(COALESCE(c.clipped_5, 0) AS BIGINT) AS clipped_5,
           CAST(COALESCE(c.clipped_6, 0) AS BIGINT) AS clipped_6,
           CAST(greatest(length(b.cs) - 0, 0) AS BIGINT) AS cand_total_1,
           CAST(greatest(length(b.cs) - 1, 0) AS BIGINT) AS cand_total_2,
           CAST(greatest(length(b.cs) - 2, 0) AS BIGINT) AS cand_total_3,
           CAST(greatest(length(b.cs) - 3, 0) AS BIGINT) AS cand_total_4,
           CAST(greatest(length(b.cs) - 4, 0) AS BIGINT) AS cand_total_5,
           CAST(greatest(length(b.cs) - 5, 0) AS BIGINT) AS cand_total_6,
           CAST(greatest(length(b.rs) - 0, 0) AS BIGINT) AS ref_total_1,
           CAST(greatest(length(b.rs) - 1, 0) AS BIGINT) AS ref_total_2,
           CAST(greatest(length(b.rs) - 2, 0) AS BIGINT) AS ref_total_3,
           CAST(greatest(length(b.rs) - 3, 0) AS BIGINT) AS ref_total_4,
           CAST(greatest(length(b.rs) - 4, 0) AS BIGINT) AS ref_total_5,
           CAST(greatest(length(b.rs) - 5, 0) AS BIGINT) AS ref_total_6
    FROM base b LEFT JOIN clip c ON c.pair_id = b.pair_id
    """,
)
def x_chrf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF sufficient statistics (operators/text.py::chrf_stats,
    max_n=6) over the same next-doc-in-source eval fixture as
    x_bleu_pairs — the character-level, tokenization-robust
    companion: clipped char-n-gram matches plus BOTH denominators
    (chrF is an F-score), all int64; F_beta and corpus aggregation
    stay caller-side.  Plan (r13 optimization): identical to
    bleu_stats — one scan, pinned pre-kernel rebalance, ONE Arrow
    MapInPandas kernel; no Generate/aggregation (measured 3.6 ->
    0.8 s exec at sf0.1 vs the expression path)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("candidate"),
        F.lead("text").over(w).alias("reference"),
    )
    return TX.chrf_stats(pairs, max_n=6)


def _corpus_eval_sql(token: bool, max_n: int) -> str:
    """Build the DuckDB oracle for a corpus-level eval rollup: the
    SAME per-pair clipped-count CTEs as the x_bleu_pairs /
    x_chrf_pairs oracles (token word-grams or chrF char-grams),
    carrying ``source`` through and GROUPing the final select by it —
    corpus-BLEU/chrF aggregates the int64 counts FIRST (Papineni 2002
    §5), so the rollup oracle is just sums over the per-pair
    surface."""
    if token:
        norm = (
            "regexp_extract_all(lower(coalesce({c}, '')),"
            " '[a-z0-9]+')"
        )
        cols, ln, tot = ("ct", "rt"), "len", "total"
        gram = (
            "unnest([array_to_string({a}[i:i + {m}], ' ')\n"
            "                     for i in range(1, len({a}) - {n} + 2)]) AS g"
        )
    else:
        norm = (
            "regexp_replace(lower(coalesce({c}, '')),"
            " '\\s+', '', 'g')"
        )
        cols, ln, tot = ("cs", "rs"), "length", "cand_total"
        gram = (
            "unnest([substring({a}, i, {n})\n"
            "                     for i in range(1, length({a}) - {n} + 2)]) AS g"
        )
    unions = "\n      UNION ALL\n".join(
        f"      SELECT pair_id, {n} AS n, '{s}' AS side,\n             "
        + gram.format(a=a, n=n, m=n - 1)
        + "\n      FROM base"
        for n in range(1, max_n + 1)
        for s, a in (("c", cols[0]), ("r", cols[1]))
    )
    clip_cols = ",\n".join(
        f"             CAST(sum(CASE WHEN n = {n} THEN least(cc, cr)"
        f" ELSE 0 END) AS BIGINT) AS clipped_{n}"
        for n in range(1, max_n + 1)
    )
    final = ",\n".join(
        [
            f"           CAST(sum(COALESCE(c.clipped_{n}, 0)) AS BIGINT)"
            f" AS clipped_{n}"
            for n in range(1, max_n + 1)
        ]
        + [
            f"           CAST(sum(greatest({ln}(b.{cols[0]}) - {n - 1},"
            f" 0)) AS BIGINT) AS {tot}_{n}"
            for n in range(1, max_n + 1)
        ]
        + [
            f"           CAST(sum(greatest({ln}(b.{cols[1]}) - {n - 1},"
            f" 0)) AS BIGINT) AS ref_total_{n}"
            for n in range(1, max_n + 1)
        ]
    )
    return f"""
    WITH p AS (
      SELECT doc_id AS pair_id, source, text AS candidate,
             lead(text) OVER (PARTITION BY source ORDER BY doc_id)
               AS reference
      FROM documents
      WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ), base AS (
      SELECT pair_id, source,
             {norm.format(c='candidate')} AS {cols[0]},
             {norm.format(c='reference')} AS {cols[1]}
      FROM p
    ), grams AS (
{unions}
    ), cells AS (
      SELECT pair_id, n, g,
             sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc,
             sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr
      FROM grams GROUP BY 1, 2, 3
    ), clip AS (
      SELECT pair_id,
{clip_cols}
      FROM cells GROUP BY 1
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum({ln}(b.{cols[0]})) AS BIGINT) AS cand_len,
           CAST(sum({ln}(b.{cols[1]})) AS BIGINT) AS ref_len,
{final}
    FROM base b LEFT JOIN clip c ON c.pair_id = b.pair_id
    GROUP BY 1
    """


def _eval_pairs_with_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        F.col("doc_id").alias("pair_id"),
        "source",
        F.col("text").alias("candidate"),
        F.lead("text").over(w).alias("reference"),
    )


@_register("x_corpus_bleu", _corpus_eval_sql(token=True, max_n=4))
def x_corpus_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-BLEU sufficient statistics per source
    (operators/text.py::corpus_eval_rollup over bleu_stats with the
    group_cols passthrough): corpus-BLEU is by definition the
    aggregate of the clipped/total counts over the corpus FIRST
    (Papineni 2002 §5 — NOT a mean of sentence BLEUs), so the whole
    rollup stays int64 and hash-gates end-to-end; the one float step
    (geometric mean x brevity penalty) is caller-side on |sources|
    rows.  Plan (r13): the SAME single-scan pinned Arrow-kernel
    bleu_stats pass (source rides the batches as a passthrough
    column) + ONE tiny group-key exchange over per-pair rows."""
    stats = TX.bleu_stats(
        _eval_pairs_with_source(spark, sf_dir),
        max_n=4,
        group_cols=("source",),
    )
    return TX.corpus_eval_rollup(stats, group_cols=("source",))


@_register("x_corpus_chrf", _corpus_eval_sql(token=False, max_n=6))
def x_corpus_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-chrF sufficient statistics per source — the char-level
    companion of x_corpus_bleu (Popović 2015: corpus chrF sums the
    clipped counts and BOTH denominators first, one F_beta float step
    after, caller-side).  Same plan contract (r13): the pinned
    single-scan Arrow-kernel chrf_stats pass with the source
    passthrough + one tiny group-key exchange."""
    stats = TX.chrf_stats(
        _eval_pairs_with_source(spark, sf_dir),
        max_n=6,
        group_cols=("source",),
    )
    return TX.corpus_eval_rollup(stats, group_cols=("source",))


# md5-u32 nibble powers for the DSIR oracle (the simhash md5-prefix
# trick, 8 hex chars -> the same u32 Spark's conv(substring(md5,1,8))
# computes)
_DSIR_POWS = ", ".join(str(16 ** (8 - i)) for i in range(1, 9))


@_register(
    "x_dsir_hashed_counts",
    rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(coalesce(text, '')),
                                '[a-z0-9]+') AS tk
      FROM documents WHERE doc_id IS NOT NULL
    ), g AS (
      SELECT doc_id, unnest(tk) AS gram FROM t
      UNION ALL
      SELECT doc_id,
             unnest([tk[i] || ' ' || tk[i + 1]
                     for i in range(1, len(tk))]) AS gram
      FROM t
    ), h AS (
      SELECT doc_id,
             CAST(list_sum(
               [(strpos('0123456789abcdef', md5(gram)[i]) - 1)::BIGINT
                * ([{_DSIR_POWS}][i])::BIGINT
                for i in range(1, 9)]) % 256 AS INTEGER) AS bucket
      FROM g
    )
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM h GROUP BY 1, 2
    """,
)
def x_dsir_hashed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed n-gram feature counts
    (operators/selection.py::hashed_ngram_counts, n_max=2, 256
    buckets, md5-u32 bucket hash) — the ORACLE-HASHABLE substrate of
    the DSIR selection family (Xie et al. 2023): per-(doc, bucket)
    int64 counts over uni+bigrams in a fixed bounded feature space;
    distributions and importance weights are downstream expressions
    over this surface.  md5 mode is the cross-engine-reproducible
    oracle configuration (the simhash precedent); xxhash64 is the
    scale default, pinned equivalent on bucket-invariant totals in
    pytest.  Plan: one scan, the pre-explosion rebalance, one
    Generate, ONE (doc, bucket) map-side-combined contraction."""
    return SEL.hashed_ngram_counts(
        load_table(spark, sf_dir, "documents"),
        n_max=2,
        num_buckets=256,
        bucket_hash="md5",
    )


@_register("x_dsir_weights")  # rows-only: ln() is libm-dependent
def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weights
    (operators/selection.py::dsir_log_weights): every document
    weighted by how much more it looks like the TARGET slice (the
    'en' documents — a stand-in for a curated quality corpus) than
    like the raw-corpus average, via Laplace-smoothed hashed-bigram
    bucket distributions.  ROWS-ONLY — ln is transcendental (the
    bm25_topk/ndcg precedent); gated by the from-scratch differential
    in tests/test_selection.py (exact round-6 weights vs a pure-
    Python md5-bucket replica) plus partitioning-invariance.  Plan:
    the raw corpus featurizes ONCE (persisted contraction feeding
    both the distribution and the weight join), both distributions
    and the log-ratio table are <= 256 rows and broadcast — no
    corpus-side shuffle beyond the feature contraction (pinned)."""
    docs = load_table(spark, sf_dir, "documents")
    return SEL.dsir_log_weights(
        docs,
        target_ids=docs.filter(F.col("lang") == "en").select("doc_id"),
        n_max=2,
        num_buckets=256,
        bucket_hash="md5",
    )


@_register("x_dsir_resample")  # rows-only: ln() is libm-dependent
def x_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic DSIR importance resampling
    (operators/selection.py::dsir_resample) — the paper's actual
    selection step (Xie et al. 2023 §2): 50 documents drawn without
    replacement with probability proportional to softmax(log_weight)
    toward the 'en' target slice, via the Gumbel-top-k trick with the
    house deterministic md5 draw (u = (md5_u32(doc_id:'dsir') + 0.5)
    / 2^32, g = -ln(-ln u), rank by log_weight + g).  ROWS-ONLY — ln
    is transcendental twice over (the x_dsir_weights precedent);
    gated by the from-scratch differential in
    tests/test_selection.py (exact round-6 gumbel keys + exact
    selected-set equality vs a pure-Python replica) plus salt-count
    invariance.  Plan: the single-featurization dsir_log_weights plan
    + the shared salted two-phase top-k — phase 2 is ONE task over
    <= n_salts * k survivors, never a corpus-wide window (pinned)."""
    docs = load_table(spark, sf_dir, "documents")
    return SEL.dsir_resample(
        docs,
        None,
        k=50,
        n_max=2,
        num_buckets=256,
        bucket_hash="md5",
        target_ids=docs.filter(F.col("lang") == "en").select("doc_id"),
    )


@_register("x_corpus_rouge_l")  # rows-only: LCS is not SQL-expressible
def x_corpus_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ROUGE-L sufficient statistics per source — the LCS
    companion of x_corpus_bleu/x_corpus_chrf, closing the eval
    family's rollup surface (r11 verdict #5): rouge_l_stats carries
    the source through the Arrow batches via group_cols (NO join back
    to the pair table — the map is narrow), then corpus_eval_rollup
    sums (cand_len, ref_len, lcs_len) per source with ONE tiny
    group-key exchange; corpus P/R/F stay caller-side on |sources|
    rows.  The truncated flag rolls up as n_truncated (truncation is
    never silent, even aggregated).  ROWS-ONLY — LCS has no
    relational formulation (the x_rouge_l_pairs precedent); gated by
    the from-scratch corpus differential in tests plus the rollup
    additivity property."""
    stats = TX.rouge_l_stats(
        _eval_pairs_with_source(spark, sf_dir), group_cols=("source",)
    )
    stats = stats.withColumn(
        "n_truncated", F.col("truncated").cast("bigint")
    ).drop("truncated")
    return TX.corpus_eval_rollup(stats, group_cols=("source",))


# deterministic probe queries over the synthetic documents vocabulary
# (TESTDATA.md) — duplicated literally in the oracle's VALUES clause
_BM25_QUERY_ROWS = [
    (1, "fast table scan"),
    (2, "spark stream window"),
    (3, "hash join merge batch"),
    (4, "customer order data query"),
]


def _bm25_queries_df(spark: SparkSession) -> DataFrame:
    # VALUES-backed LocalRelation, not createDataFrame: this frame is
    # the broadcast side of every retrieval query, and an ExistingRDD
    # leaf would re-pay Python-serializer setup per execution (the r13
    # bm25 A/B finding)
    return IO.local_relation_df(
        spark, _BM25_QUERY_ROWS, "query_id long, query_text string"
    )


_BM25_QUERY_VALUES = ", ".join(
    f"({i}, '{t}')" for i, t in _BM25_QUERY_ROWS
)


# (n_docs, sum_dl) corpus snapshot constants per sf_dir — the
# production single-scan pattern (retrieval.py::bm25_stats docstring):
# computed ONCE per corpus snapshot by corpus_token_stats (one cheap
# count/sum pass, a bounded 2-scalar collect) and passed to every
# retrieval call so bm25_stats never pays its default second
# scan+tokenize.  Memoized by sf_dir path: the test corpora are
# immutable snapshots, and the memo makes the constants genuinely
# once-per-snapshot across the declared retrieval queries.
_BM25_CORPUS_STATS: dict[str, tuple[int, int]] = {}


def _bm25_corpus_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    got = _BM25_CORPUS_STATS.get(sf_dir)
    if got is None:
        got = RV.corpus_token_stats(
            load_table(spark, sf_dir, "documents")
        )
        _BM25_CORPUS_STATS[sf_dir] = got
    return got


@_register(
    "x_bm25_stats",
    f"""
    WITH q(query_id, query_text) AS (
      VALUES {_BM25_QUERY_VALUES}
    ), qterms AS (
      SELECT DISTINCT query_id,
             unnest(regexp_extract_all(lower(coalesce(query_text, '')),
                                       '[a-z0-9]+')) AS term
      FROM q
    ), toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(coalesce(text, '')),
                                '[a-z0-9]+') AS t
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(sum(len(t)), 0) AS BIGINT) AS sum_dl
      FROM toks
    ), doc_terms AS (
      SELECT doc_id, term,
             CAST(count(*) AS BIGINT) AS tf,
             CAST(max(dl) AS BIGINT) AS dl
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      WHERE term IN (SELECT term FROM qterms)
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM doc_terms GROUP BY 1
    )
    SELECT CAST(qt.query_id AS BIGINT) AS query_id,
           dt.doc_id, dt.term, dt.tf, d.df, dt.dl,
           c.n_docs, c.sum_dl
    FROM doc_terms dt
    JOIN qterms qt USING (term)
    JOIN dfreq d USING (term), corpus c
    """,
)
def x_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 sufficient statistics (operators/retrieval.py::bm25_stats)
    for four deterministic probe queries over the documents corpus —
    the ORACLE-HASHABLE retrieval substrate: per-(query, doc, term)
    tf, corpus-wide df, doc length, and the corpus scalars, all
    int64; any idf/tf weighting (BM25, TF-IDF) is a caller expression
    (the bleu_stats discipline applied to IR).  Plan: the query
    vocabulary broadcast-semi-prunes the exploded token stream BEFORE
    the one (doc, term) contraction; df and the corpus 1-row
    aggregate broadcast back — at 100 TB every non-query token dies
    pre-shuffle.  SINGLE-SCAN (r11 verdict note #2): the (n_docs,
    sum_dl) snapshot constants come from the memoized one-pass
    _bm25_corpus_stats, so THIS plan tokenizes the corpus exactly
    once (pinned in test_plan_shapes)."""
    return RV.bm25_stats(
        load_table(spark, sf_dir, "documents"),
        _bm25_queries_df(spark),
        corpus_stats=_bm25_corpus_stats(spark, sf_dir),
    )


@_register(
    "x_rrf_fuse",
    f"""
    WITH q(query_id, query_text) AS (
      VALUES {_BM25_QUERY_VALUES}
    ), qterms AS (
      SELECT DISTINCT query_id,
             unnest(regexp_extract_all(lower(coalesce(query_text, '')),
                                       '[a-z0-9]+')) AS term
      FROM q
    ), toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(coalesce(text, '')),
                                '[a-z0-9]+') AS t
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), doc_terms AS (
      SELECT doc_id, term,
             CAST(count(*) AS BIGINT) AS tf,
             CAST(max(dl) AS BIGINT) AS dl
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      WHERE term IN (SELECT term FROM qterms)
      GROUP BY 1, 2
    ), per_doc AS (
      SELECT qt.query_id, dt.doc_id,
             CAST(sum(dt.tf) AS BIGINT) AS tfs,
             CAST(max(dt.dl) AS BIGINT) AS dl
      FROM doc_terms dt JOIN qterms qt USING (term)
      GROUP BY 1, 2
    ), ra AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY tfs DESC, doc_id) AS rank
      FROM per_doc
    ), rb AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dl ASC, doc_id) AS rank
      FROM per_doc
    ), unioned AS (
      SELECT * FROM ra WHERE rank <= 10
      UNION ALL
      SELECT * FROM rb WHERE rank <= 10
    ), fused AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(count(*) AS BIGINT) AS n_rankers,
             CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_ppb
      FROM unioned GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_rankers, rrf_ppb,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_ppb DESC, doc_id)
                AS INTEGER) AS fused_rank
    FROM fused
    """,
)
def x_rrf_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (operators/retrieval.py::rrf_fuse, k=60)
    of two integer-deterministic rankers built from the bm25_stats
    surface — per probe query, top-10 by total matched tf (desc) and
    top-10 by doc length (asc), both doc-id-tiebroken — so the WHOLE
    hybrid-retrieval chain is hash-exact: integer stats, integer
    ranks, floor-ppb reciprocal contributions, int64 fusion sum
    (fusing float-scored rankers like bm25_topk gives the same
    fused_rank surface; the integer rankers here exist to keep the
    oracle gate airtight).  The operator's per-query window is
    bounded BY CONSTRUCTION (input = top-k-truncated lists); the
    candidate windows in THIS fixture's rankers are bounded by the
    probe vocabulary's match set."""
    ra, rb = _bm25_int_rankers(spark, sf_dir)
    return RV.rrf_fuse(ra.unionByName(rb), k=60)


def _bm25_int_rankers(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Two integer-deterministic top-10 rankers off the bm25_stats
    surface (total matched tf desc; doc length asc), both
    doc-id-tiebroken — shared by x_rrf_fuse, x_retrieval_metrics and
    x_ndcg_at_k so the fused ranking and its judgments come from one
    chain.  Ranked with salted_topk (r11 verdict weak #1): per_doc is
    every document matching ANY probe term — a constant fraction of
    the corpus for a common term — so a bare per-query window here
    would put one query's whole candidate set in ONE task AQE cannot
    split.  The salted two-phase ranks are BIT-IDENTICAL (both orders
    are total via the doc_id tiebreak), keeping the DuckDB oracles
    untouched.  Single-scan like the headline: the corpus constants
    come from the memoized snapshot pass.

    The shared frames are PERSISTED (cache_registry-tracked, the
    funnel/e3 precedent): per_doc feeds BOTH rankers, and ra feeds
    both the fusion union and the qrels slice of every consumer query
    (x_retrieval_metrics reads ra twice, x_ndcg_at_k's operator reads
    its judgments three times) — unpersisted, each consumer re-ran
    the candidate contraction and both ranker windows per read
    (measured: x_ndcg_at_k exec 3.3 s -> the persisted chain runs the
    corpus work once; ra/rb are <= 10*|probes| rows, the cheapest
    possible cache).

    The BUILT PLANS are memoized per (session, documents.parquet
    mtime/size) — the load_table relation-memo pattern (r13.1) one
    level up: three declared queries each rebuilt and re-analyzed this
    same three-frame chain on every invocation.  Plan metadata only —
    no row data crosses invocations: the persist marking below is
    re-applied per call because the session owner's
    release_all()/clearCache() boundary unpersists the frames between
    queries, so every forced action still computes from the parquet
    inputs."""
    import os as _os

    from pyspark import StorageLevel

    from kafka_dead_letter_analyzer_spark import cache_registry
    from kafka_dead_letter_analyzer_spark.sources.batch import _session_key

    key = None
    try:
        st = _os.stat(f"{sf_dir}/documents.parquet")
        key = (_session_key(spark), sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        pass  # let load_table below surface the reader's own error
    got = _BM25_RANKERS_MEMO.get(key) if key is not None else None
    if got is None:
        # diff the registry around the build so the memo learns which
        # INTERNAL persists the chain registered (bm25_stats persists its
        # doc_terms contraction — the single-scan pin depends on it being
        # re-armed on every memo hit, not just the three outer frames)
        before = {id(f) for f in cache_registry.snapshot()}
        stats = RV.bm25_stats(
            load_table(spark, sf_dir, "documents"),
            _bm25_queries_df(spark),
            corpus_stats=_bm25_corpus_stats(spark, sf_dir),
        )
        per_doc = stats.groupBy("query_id", "doc_id").agg(
            F.sum("tf").cast("bigint").alias("tfs"),
            F.max("dl").cast("bigint").alias("dl"),
        )
        ra = RV.salted_topk(
            per_doc,
            10,
            partition_by=["query_id"],
            order_by=[F.col("tfs").desc(), F.col("doc_id").asc()],
            salt_src="doc_id",
        ).select("query_id", "doc_id", F.col("rank").cast("long"))
        rb = RV.salted_topk(
            per_doc,
            10,
            partition_by=["query_id"],
            order_by=[F.col("dl").asc(), F.col("doc_id").asc()],
            salt_src="doc_id",
        ).select("query_id", "doc_id", F.col("rank").cast("long"))
        internal = [
            f for f in cache_registry.snapshot() if id(f) not in before
        ]
        arm = [(f, f.storageLevel) for f in internal] + [
            (f, StorageLevel.MEMORY_AND_DISK_DESER)
            for f in (per_doc, ra, rb)
        ]
        got = (ra, rb, arm)
        if key is not None:
            if len(_BM25_RANKERS_MEMO) >= 64:  # tests touch many tmp dirs
                _BM25_RANKERS_MEMO.clear()
            _BM25_RANKERS_MEMO[key] = got
    ra, rb, arm = got
    # (re-)mark every frame in the chain for caching at its original
    # level: storageLevel is NONE both on first build (the outer three)
    # and after a consumption boundary's unpersist/clearCache; the check
    # keeps repeat calls from spamming CacheManager already-cached warns
    for frame, level in arm:
        if frame.storageLevel == StorageLevel.NONE:
            cache_registry.track(frame.persist(level))
    return ra, rb


_BM25_RANKERS_MEMO: dict = {}


@_register(
    "x_retrieval_metrics",
    f"""
    WITH q(query_id, query_text) AS (
      VALUES {_BM25_QUERY_VALUES}
    ), qterms AS (
      SELECT DISTINCT query_id,
             unnest(regexp_extract_all(lower(coalesce(query_text, '')),
                                       '[a-z0-9]+')) AS term
      FROM q
    ), toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(coalesce(text, '')),
                                '[a-z0-9]+') AS t
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), doc_terms AS (
      SELECT doc_id, term,
             CAST(count(*) AS BIGINT) AS tf,
             CAST(max(dl) AS BIGINT) AS dl
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      WHERE term IN (SELECT term FROM qterms)
      GROUP BY 1, 2
    ), per_doc AS (
      SELECT qt.query_id, dt.doc_id,
             CAST(sum(dt.tf) AS BIGINT) AS tfs,
             CAST(max(dt.dl) AS BIGINT) AS dl
      FROM doc_terms dt JOIN qterms qt USING (term)
      GROUP BY 1, 2
    ), ra AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY tfs DESC, doc_id) AS rank
      FROM per_doc
    ), rb AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dl ASC, doc_id) AS rank
      FROM per_doc
    ), unioned AS (
      SELECT * FROM ra WHERE rank <= 10
      UNION ALL
      SELECT * FROM rb WHERE rank <= 10
    ), fused AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_ppb
      FROM unioned GROUP BY 1, 2
    ), rk AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_ppb DESC, doc_id)
                  AS BIGINT) AS rank
      FROM fused
    ), qr AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id
      FROM ra WHERE rank <= 5
    ), j AS (
      SELECT COALESCE(rk.query_id, qr.query_id) AS query_id,
             rk.rank, qr.query_id IS NOT NULL AS rel
      FROM rk FULL OUTER JOIN qr
        ON qr.query_id = rk.query_id AND qr.doc_id = rk.doc_id
    ), per_q AS (
      SELECT query_id,
             CAST(count(rank) AS BIGINT) AS n_ranked,
             CAST(count(CASE WHEN rel THEN 1 END) AS BIGINT) AS n_rel,
             CAST(min(CASE WHEN rel THEN rank END) AS BIGINT)
               AS first_rel_rank,
             CAST(count(CASE WHEN rel AND rank <= 10 THEN 1 END)
                  AS BIGINT) AS hits_at_k
      FROM j GROUP BY 1
    )
    SELECT query_id, n_ranked, n_rel, first_rel_rank,
           CAST(COALESCE(1000000000 // first_rel_rank, 0) AS BIGINT)
             AS rr_ppb,
           hits_at_k,
           CASE WHEN n_rel = 0 THEN CAST(NULL AS BIGINT)
             ELSE CAST(((hits_at_k * 1000) // n_rel) * 1000
               + (((hits_at_k * 1000) % n_rel) * 1000) // n_rel
               AS BIGINT)
           END AS recall_at_k_ppm
    FROM per_q
    """,
)
def x_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact retrieval evaluation
    (operators/retrieval.py::retrieval_metrics, k=10) closing the
    retrieval loop end-to-end under the hash gate: judgments = the
    tf-ranker's top-5 per probe query, rankings = the RRF fusion from
    x_rrf_fuse — so the metrics answer 'does fusion retain the
    tf-ranker's head?' with reciprocal rank in exact ppb (rational,
    unlike nDCG's log2 discount) and recall@k in exact floor-ppm.
    One composite-key join + one five-long (query) contraction — no
    window, no per-query task bound."""
    ra, rb = _bm25_int_rankers(spark, sf_dir)
    fused = RV.rrf_fuse(ra.unionByName(rb), k=60).select(
        "query_id", "doc_id", F.col("fused_rank").alias("rank")
    )
    qrels = ra.filter(F.col("rank") <= 5).select("query_id", "doc_id")
    return RV.retrieval_metrics(fused, qrels, k=10)


@_register("x_bm25_topk")  # rows-only: ln() is libm-dependent cross-engine
def x_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per probe query by BM25
    (operators/retrieval.py::bm25_topk, Lucene idf, k1=1.2 b=0.75):
    rows-only because the score is a float with a transcendental ln
    (the semdedup_clustered / KLL precedent — cross-engine float
    nondeterminism, not missing semantics); gated instead by the
    from-scratch differential test (exact rank sets + round-6 scores
    vs a pure-Python replica) and the salted two-phase top-k plan pin
    (NO corpus-wide window — phase 1 ranks within (query, salt)
    buckets, phase 2 ranks <= n_salts*k survivors).  SINGLE-SCAN:
    corpus snapshot constants from the memoized one-pass
    _bm25_corpus_stats (pinned in test_plan_shapes)."""
    return RV.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        _bm25_queries_df(spark),
        k=10,
        corpus_stats=_bm25_corpus_stats(spark, sf_dir),
    )


@_register("x_ndcg_at_k")  # rows-only: log2 discount is libm-dependent
def x_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 (operators/retrieval.py::ndcg_at_k, linear gain)
    closing the standard IR eval triple (MRR + recall@k in
    x_retrieval_metrics are integer-exact; the log2 discount makes
    nDCG irreducibly float, so rows-only + the from-scratch
    differential in tests/test_retrieval.py — the bm25_topk
    precedent).  Same fixture chain as x_retrieval_metrics: rankings
    = the RRF fusion of the two integer rankers, judgments = the
    tf-ranker's top-5 GRADED 5..1 by rank (rel = 6 - rank) — the
    metric answers 'how well does fusion preserve the tf-ranker's
    graded head?'.  Plan shape matches retrieval_metrics: equi-joins
    + bounded (query) contractions; the ideal-gain side ranks via
    salted_topk, NO group-wide window (pinned)."""
    def build():
        ra, rb = _bm25_int_rankers(spark, sf_dir)
        fused = RV.rrf_fuse(ra.unionByName(rb), k=60).select(
            "query_id", "doc_id", F.col("fused_rank").alias("rank")
        )
        qrels = ra.filter(F.col("rank") <= 5).select(
            "query_id",
            "doc_id",
            (F.lit(6) - F.col("rank")).cast("bigint").alias("rel"),
        )
        return RV.ndcg_at_k(fused, qrels, k=10)

    # r14: built plan memoized (see _memo_plan) — the fuse/qrels/ndcg
    # plan build on top of the (already memoized) ranker chain re-paid
    # ~0.4 s of py4j per invocation
    out = _memo_plan(spark, sf_dir, "x_ndcg_at_k", ["documents"], build)
    # re-arm the NESTED ranker-chain memo explicitly: if the chain was
    # already armed when this memo's build ran, the registry snapshot
    # diff missed ra/rb/per_doc, so a later hit would leave them
    # unpersisted (single-scan plan contract broken).  A hit here is
    # the cheap re-arm path.
    _bm25_int_rankers(spark, sf_dir)
    return out


@_register("x_rouge_l_pairs")  # rows-only: LCS is not SQL-expressible
def x_rouge_l_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L sufficient statistics (operators/text.py::
    rouge_l_stats) over the shared next-doc-in-source eval fixture:
    longest-common-subsequence length + both lengths per pair, int64;
    P/R/F caller-side.  ROWS-ONLY by design — LCS has no relational
    formulation DuckDB can run (the KLL/isotonic/PCA precedent); the
    correctness gate is the from-scratch quadratic-DP differential in
    tests (randomized + adversarial cases + truncation contract).
    Plan: one scan + the window lead + the pinned rebalance (AQE
    sizes partitions by bytes, but a pair's cost here is its
    quadratic DP — unrebalanced, sf0.1 ran single-task), then a pure
    narrow Arrow-batched map."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("candidate"),
        F.lead("text").over(w).alias("reference"),
    )
    return TX.rouge_l_stats(pairs)


@_register("x_semdedup_clustered")  # rows-only: float Lloyd quantizer
def x_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE configuration of semdedup (n_clusters=8): pair work
    drops from n^2 to sum(|cell|^2) through the deterministic
    bounded-sample k-means quantizer.  ROWS-ONLY — the float Lloyd
    centroids are not SQL-expressible (the kmeans precedent); the
    correctness gates are the exhaustive-config oracle (x_semdedup)
    plus the structural tests: clustered drops are a SUBSET of
    exhaustive drops, planted identical vectors are always caught
    (they argmax to the same cell), and the flags differential vs
    the pure-Python replica."""
    return S.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_clusters=8,
    )
