"""Output sizing — the small-files problem at 100 TB.

A 100 TB job writing through ``spark.sql.shuffle.partitions`` tasks emits
one file per task per partition directory: tens of thousands of tiny
parquet files that throttle every downstream scan (footer reads dominate)
and metastore. The fix is sizing the write by DATA VOLUME, not task count.

``write_sized`` plans the repartition from Catalyst's own size estimate of
the optimized plan (``sizeInBytes`` — the same statistic AQE plans with),
so the file count tracks the data: ``ceil(estimated_bytes /
target_file_bytes)`` output tasks, each additionally capped by
``maxRecordsPerFile`` as the safety net for estimate error. A round-robin
``repartition(n)`` (not coalesce) is used deliberately: coalesce folds
into upstream stages and can starve their parallelism; the extra shuffle
is the documented price of well-sized output, and at 100 TB it is noise
next to the scan it prevents downstream.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

__all__ = [
    "estimated_plan_bytes",
    "local_relation_df",
    "spread_for_cpu",
    "read_jsonl",
    "write_bucketed",
    "write_clustered",
    "write_jsonl",
    "write_sized",
    "shuffle_partitions",
    "zorder_value",
    "zorder_sql",
]


def shuffle_partitions(spark, default: int = 200) -> int:
    """The session's shuffle-partition count as an ``int``, robust to
    platforms that set the conf to a NON-NUMERIC sentinel (Databricks
    AQE auto-optimized shuffle sets it to ``"auto"``) — a bare
    ``int(conf.get(...))`` raises ValueError at operator CONSTRUCTION
    time there. Fallback order: the numeric conf value, then
    ``sparkContext.defaultParallelism`` (the cluster's real width —
    unavailable under Spark Connect), then ``default``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        pass
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        return default


def estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the DataFrame's optimized plan (the
    statistic AQE and join-strategy selection use). Conservative for
    filters it cannot estimate; exact for bare scans.

    Returns ``None`` when the JVM-internal plan is unreachable — under
    Spark Connect there is no ``_jdf`` (the plan lives server-side), so
    callers must degrade to a configured default rather than crash."""
    if not hasattr(df, "_jdf"):
        return None
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def write_sized(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    max_records_per_file: int | None = 5_000_000,
    format: str = "parquet",
    mode: str = "overwrite",
    max_files: int = 100_000,
) -> int:
    """Write ``df`` sized to ~``target_file_bytes`` per output file
    (default 256 MiB — the scan-friendly parquet sweet spot: big enough to
    amortize footers, small enough for task-level parallelism). Returns
    the planned file count.

    Note the estimate is of the IN-MEMORY plan size; parquet compresses
    2-5x below it, so files land under the target — the failure mode this
    guards against is thousands-of-tiny-files, not slightly-small files.

    ``max_files`` caps the plan: Catalyst's estimate is unreliable upward
    for stat-less plans (join fallbacks multiply the sides; some leaves
    default to Long.MaxValue), and an uncapped ceil() would ask for more
    shuffle partitions than Spark can launch. When the cap engages,
    ``maxRecordsPerFile`` still bounds individual file size.

    Under Spark Connect the size estimate is unavailable (no ``_jdf``);
    the write then falls back to the session's shuffle-partition count,
    with ``maxRecordsPerFile`` as the per-file bound.
    """
    est = estimated_plan_bytes(df)
    if est is None:
        n = shuffle_partitions(df.sparkSession)
    else:
        n = max(1, math.ceil(est / target_file_bytes))
    n = min(n, max_files)
    writer = df.repartition(n).write.format(format).mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)
    return n


def spread_for_cpu(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan currently has fewer
    partitions than requested (default: the cluster's defaultParallelism).

    The small-input CPU fix: Spark splits scans by BYTES
    (maxPartitionBytes), so a small parquet file lands in one partition —
    and an expensive-per-row operator downstream (gram explosion, regex
    batteries, Python codec UDFs) then runs on ONE core regardless of
    cluster width. Spreading first costs a shuffle of the (small) input
    and buys full-width CPU.

    At real scale this is a NO-OP by construction: a 100 TB scan already
    has orders of magnitude more partitions than cores, so the guard
    keeps the no-extra-shuffle property exactly when the shuffle would
    actually hurt. (The check reads plan metadata only — no job runs.)
    """
    try:
        sc = df.sparkSession.sparkContext
        target = min_partitions or sc.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect: no sparkContext / .rdd client-side. Degrade to
        # a no-op rather than guess — the server-side AQE coalescing and
        # real cluster scans make the narrow-input case unlikely there.
        return df
    if current >= target:
        return df
    return df.repartition(target)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    num_files: int | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int | None = 5_000_000,
) -> int:
    """Write ``df`` range-partitioned AND sorted on ``cluster_by`` — the
    data-layout half of the small-files answer.

    ``repartitionByRange`` samples the key distribution and assigns each
    output task a disjoint key range; ``sortWithinPartitions`` orders
    rows inside each file. The parquet footers then carry TIGHT min/max
    stats on the cluster keys, so any downstream scan filtering on them
    prunes whole files (plus row groups) instead of reading everything —
    the poor man's Z-order, and for single-key or prefix-ordered
    predicates the optimal one. Worth it whenever a corpus is written
    once and scanned many times with selective predicates (by language,
    by quality band, by time).

    Returns the file-count target used (``num_files`` or the session's
    shuffle-partition count).
    """
    n = num_files or shuffle_partitions(df.sparkSession)
    clustered = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
        *cluster_by
    )
    writer = clustered.write.format(format).mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 128,
    sort_by: list[str] | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a BUCKETED table: rows are hash-partitioned into
    ``num_buckets`` files per partition directory on ``bucket_by``, with
    the bucketing spec recorded in the catalog.

    This is the pre-paid shuffle: every later join or aggregation keyed
    on the bucket columns between tables bucketed the same way plans
    with ZERO Exchange — Spark trusts the on-disk hash layout instead of
    re-shuffling 100 TB per query (asserted in tests/test_plan_shapes).
    Worth it exactly when a table is written once and joined/grouped on
    the same key many times: fact-to-fact joins too big to broadcast,
    iterative dedup against a canonical corpus, feature joins by doc_id.

    ``sort_by`` additionally orders rows inside each bucket file
    (sorted-bucket merge join reads both sides streaming, no sort
    stage). Bucketed writes must go through ``saveAsTable`` — the
    bucketing spec lives in the catalog, not the parquet footers; a
    plain ``.save(path)`` silently loses it.
    """
    writer = (
        df.write.format(format).mode(mode).bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


# Morton (Z-order) bit-spread steps for a 31-bit input -> 62-bit code:
# inputs are masked to 31 bits so the interleaved code (and the second
# dimension's <<1) stays in POSITIVE int64 range on every engine — DuckDB
# raises on BIGINT overflow where Java wraps, so the domain is the part
# of the contract that keeps the two implementations identical.
ZORDER_INPUT_MASK = 0x7FFFFFFF
ZORDER_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def zorder_value(c1, c2):
    """Morton/Z-order interleave of two integer dimensions into one
    BIGINT sort key — the multi-column layout answer ``write_clustered``
    alone can't give: range-partition + sort on the z-value keeps rows
    close in BOTH dimensions physically together, so parquet min/max
    stats prune scans filtering on EITHER dimension (time x entity,
    quality x language). Write the layout with
    ``write_clustered(df.withColumn("z", zorder_value(a, b)), path,
    ["z"])``.

    Pure codegen'd bit arithmetic (mask/or/shift — the classic bit-
    spread), integer-exact on any engine; inputs are taken modulo 2^31
    (callers bucket coarser dimensions first, e.g. minutes not micros).
    """
    from pyspark.sql import functions as F

    def spread(c):
        x = c.cast("bigint").bitwiseAND(F.lit(ZORDER_INPUT_MASK))
        for sh, mask in ZORDER_SPREAD_STEPS:
            x = x.bitwiseOR(F.shiftleft(x, sh)).bitwiseAND(F.lit(mask))
        return x

    return spread(c1).bitwiseOR(F.shiftleft(spread(c2), 1))


def zorder_sql(e1: str, e2: str) -> str:
    """DuckDB renderer of :func:`zorder_value` — the identical mask/or/
    shift chain, so the z-code is oracle-checkable. (The textual
    expression doubles per step; at 5 steps that is ~1.3 KB per
    dimension — fine for an oracle string.)"""

    def spread(e: str) -> str:
        x = f"(CAST({e} AS BIGINT) & {ZORDER_INPUT_MASK})"
        for sh, mask in ZORDER_SPREAD_STEPS:
            x = f"(({x} | ({x} << {sh})) & {mask})"
        return x

    return f"({spread(e1)} | ({spread(e2)} << 1))"


def write_jsonl(
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Write a corpus as JSON Lines — the interchange format most LLM
    data tooling consumes. One JSON object per line, optionally gzip'd
    (splittable-on-read is parquet's job; JSONL shards are for export).
    ``num_files`` sizes the shard count (round-robin repartition);
    default keeps the upstream partitioning."""
    out = df.repartition(num_files) if num_files else df
    writer = out.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def read_jsonl(spark, path: str, schema: str | None = None) -> DataFrame:
    """Read a JSONL corpus. ALWAYS pass ``schema`` in production: schema
    inference is a full extra pass over 100 TB and type-unstable across
    shards (an all-null column infers string on one shard, long on
    another). Returns records with ``_corrupt_record`` capture left at
    Spark's default PERMISSIVE mode so one bad line doesn't kill the
    ingest — filter or count it as the ingest's error stream."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)

def local_relation_df(spark, rows, schema: str):
    """Small driver-known table as a VALUES-backed LocalRelation —
    the fast replacement for ``spark.createDataFrame(list)`` on
    broadcast dims and fixture tables.  createDataFrame plans as
    ``Scan ExistingRDD``: a Python-RDD leaf OUTSIDE whole-stage
    codegen that pays Python-serializer setup on EVERY execution —
    the r13 bm25 A/B measured it at ~0.25 s/exec at sf0.1, pure
    overhead for a table of constants.  A SQL ``VALUES`` literal
    plans as LocalRelation: materialized once at analysis, free at
    execution, broadcastable without touching Python.

    ``schema`` is a DDL string ("name type, ..."); values support
    int/float/str/bool/None (literal-rendered, str single-quote
    escaped).  Rows are CAST column-by-column so the result schema
    matches the DDL exactly.  Empty ``rows`` falls back to
    createDataFrame (no VALUES syntax for zero tuples — cold path)."""
    if not rows:
        return spark.createDataFrame([], schema)
    if "<" in schema:
        # the comma-split below would shred "array<struct<a:int,b:int>>";
        # complex-typed local tables are not this helper's job
        raise ValueError(
            "local_relation_df: only flat scalar column types are"
            f" supported, got {schema!r}"
        )
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ))

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return repr(v)
        if isinstance(v, int):
            return repr(v)
        raise TypeError(
            f"local_relation_df: unsupported literal {type(v).__name__}"
        )

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    names = ", ".join(f"_c{i}" for i in range(len(cols)))
    proj = ", ".join(
        f"CAST(_c{i} AS {typ}) AS {name}"
        for i, (name, typ) in enumerate(cols)
    )
    return spark.sql(
        f"SELECT {proj} FROM (VALUES {values}) AS _lrd({names})"
    )
