"""Batch parquet sources for the driver's synthetic tables (TESTDATA.md).

In batch mode "topics" are tables (SURVEY.md §1.1); the S1
pattern-subscription scan maps to reading each matching table and unioning
(done by callers). Filters/projections on these readers push down to the
parquet scan — verify with ``.explain("formatted")`` (PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- relation-metadata memos (optimization r13) -------------------------
#
# load_table is called 1-5x per declared query and the bench's warm tier
# re-invokes every query fn, so at 229 queries the leaf setup cost is paid
# ~600x per run. Three memos cut it:
#   _CONFS_DONE     one-time engine-conf application per SparkSession
#   _FOOTER_CACHE   the Python-side pyarrow footer read (nanos detection),
#                   keyed by (path, mtime_ns, size) so a rewritten file
#                   re-reads its footer
#   _RELATION_CACHE the *unresolved relation* DataFrame itself, keyed by
#                   (session identity, path, mtime_ns, size)
#
# The relation memo stores ONLY plan metadata — an unresolved logical scan
# + the normalization projection. No rows, no results: every execution
# still reads the parquet from disk (the noop-sink force and the oracle
# compare are unaffected), which keeps the bench's "compute from the
# parquet inputs every run" contract intact. This is the catalog pattern:
# a real deployment resolves a table reference once per session, not once
# per query. Session identity = (id(wrapper), JVM object id) — the cached
# DataFrame holds a reference to its session wrapper, so the Python id
# cannot be reused while the entry is alive; a stopped-and-recreated
# session gets a fresh JVM object id and therefore a fresh cache row.
_CONFS_DONE: set = set()
_FOOTER_CACHE: dict = {}
_RELATION_CACHE: dict = {}
_RELATION_CACHE_MAX = 128  # tests touch many tmp dirs; bound the memo


def _session_key(spark: SparkSession):
    jsession = getattr(spark, "_jsparkSession", None)
    return (id(spark), getattr(jsession, "_target_id", None))


def _ensure_engine_confs(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable SQL confs defensively.

    The driver harness may hand us a SparkSession built without
    session.py's defaults; without these, reading events.parquet
    (TIMESTAMP NANOS) throws PARQUET_TYPE_ILLEGAL, header-map collapse
    loses last-wins semantics, and sink timestamp strings follow the host
    zone instead of UTC. All three are runtime-settable; setting them is
    idempotent and free."""
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.mapKeyDedupPolicy", "LAST_WIN"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # conf removed/renamed in a future version: proceed


def _nanos_timestamp_columns(path: str) -> set[str]:
    """Columns whose PARQUET logical type is timestamp[ns] — the ones the
    nanosAsLong legacy conf surfaces as bigint nanoseconds in Spark. Read
    from the parquet footer so the detection follows the writer, not a
    hardcoded column list (the driver regenerates the tables per round
    and has already changed physical timestamp types twice)."""
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            # Spark-written dataset directory: any one part file's footer
            # carries the schema
            parts = sorted(
                p
                for p in os.listdir(path)
                if p.endswith(".parquet") and not p.startswith("_")
            )
            if not parts:
                return set()
            target = os.path.join(path, parts[0])
        return {
            f.name
            for f in pq.read_schema(target)
            if str(f.type).startswith("timestamp[ns")
        }
    except Exception:
        # pyarrow unavailable or unreadable footer: fall back to the
        # pre-footer heuristic (the known NANOS case) rather than
        # silently skipping normalization
        return {"ts"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    skey = _session_key(spark)
    try:
        st = os.stat(path)
        rkey = (skey, path, st.st_mtime_ns, st.st_size)
        fkey = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        rkey = fkey = None  # let spark.read.parquet raise its own error
    if rkey is not None:
        cached = _RELATION_CACHE.get(rkey)
        if cached is not None:
            return cached
    if skey not in _CONFS_DONE:
        _ensure_engine_confs(spark)
        _CONFS_DONE.add(skey)
    df = spark.read.parquet(path)
    if fkey is not None and fkey in _FOOTER_CACHE:
        nanos_cols = _FOOTER_CACHE[fkey]
    else:
        nanos_cols = _nanos_timestamp_columns(path)
        if fkey is not None:
            _FOOTER_CACHE[fkey] = nanos_cols
    # Timestamp normalization: the driver regenerates the synthetic tables
    # per round and the parquet writer's physical timestamp type has varied
    # (TIMESTAMP(NANOS) in round 2; TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # -> TIMESTAMP_NTZ in round 3). The engine's contract is one session-zone
    # TimestampType (UTC, set above) everywhere — half the temporal surface
    # (unix_micros, session_window, lag over micros) requires it, and the
    # DuckDB oracle's naive timestamps carry the same UTC wall values.
    # Built as ONE select (not a withColumn chain): each withColumn is a
    # full py4j round trip + plan node.
    proj = []
    dirty = False
    for col_name, dtype in df.dtypes:
        if col_name in nanos_cols and dtype == "bigint":
            # NANOS read as long ns (legacy conf): truncate to micros with
            # integer division — float math would lose precision at 1.7e18.
            proj.append(
                F.timestamp_micros(F.expr(f"`{col_name}` div 1000")).alias(
                    col_name
                )
            )
            dirty = True
        elif dtype == "timestamp_ntz":
            # naive UTC wall time -> session-zone timestamp; with the session
            # pinned to UTC this changes the type, not the instant.
            proj.append(F.col(col_name).cast("timestamp").alias(col_name))
            dirty = True
        else:
            proj.append(F.col(col_name))
    if dirty:
        df = df.select(*proj)
    if rkey is not None:
        if len(_RELATION_CACHE) >= _RELATION_CACHE_MAX:
            _RELATION_CACHE.clear()
        _RELATION_CACHE[rkey] = df
    return df

