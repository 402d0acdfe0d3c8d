"""SparkSession factory with engine-wide defaults.

The reference app pins its runtime behavior via streams-bootstrap CLI config
(DeadLetterAnalyzerApplication.java:43-71). Our equivalent knobs:

- ``spark.sql.session.timeZone=UTC``: the reference formats sink timestamps
  in the *system default* zone (Formatter.java:59) — a deliberate divergence
  documented in SURVEY.md §7.4; we pin UTC for reproducibility.
- ``spark.sql.mapKeyDedupPolicy=LAST_WIN``: Kafka record headers are an
  ordered multimap where the *last* occurrence of a key wins
  (HeaderHelper.java:54-56). Collapsing the header array into a map with
  ``map_from_entries`` under LAST_WIN reproduces that exactly.
- AQE on: runtime coalescing + skew-join handling stand in for hand-tuned
  partition counts at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "dead-letter-analyzer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state_store: bool | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` with a pre-configured environment and only the
    SQL confs below are applied.

    ``rocksdb_state_store`` switches streaming state to the RocksDB
    provider — the reference's store choice
    (DeadLetterAnalyzerTopology.java:220-226, Materialized.as(...) over
    RocksDB-backed KeyValueStore). Off by default (``None`` or ``False``):
    the HDFS-backed in-memory store is fine for test-sized state, RocksDB
    is the large-keyspace (per-error-type cardinality at 100 TB)
    durability/memory answer.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # the driver's events table carries TIMESTAMP(NANOS) parquet, which
        # Spark only reads as raw long ns (sources/batch.py converts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UI off by default (bench hygiene); SPARK_GRAFT_UI=1 enables it
        # so scale rehearsals can read shuffle/spill off the REST API
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI", "") == "1" else "false",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if rocksdb_state_store:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
