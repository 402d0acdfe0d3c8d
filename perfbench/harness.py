"""Pieces both workloads share: the pinned environment, fresh sessions,
memory sampling, Spark's REST API, checkpoint parsing and shutdown.

Nothing here imports pyspark at module level: ``pin_env`` must run before
the first pyspark import so the launcher sees the pinned settings.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KAFKA_DDL = (
    "key binary, value binary, headers array<struct<key:string,value:binary>>, "
    "topic string, partition int, offset bigint, timestamp timestamp"
)


def pin_env(work: str, ui: bool) -> None:
    """Settings the result depends on, fixed for every run.

    Without ``SPARK_GRAFT_CPUS`` the session defaults to ``local[32]`` and
    32 shuffle partitions on any host; without the repo on ``PYTHONPATH``
    the pandas-UDF workers cannot import the engine. Temporary files stay
    inside the checkout's work directory.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_UI"] = "1" if ui else "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def host_info() -> dict:
    """nproc, load average and JVMs already running (call it before the
    benchmark starts its own), so a contaminated run shows."""
    jvms = sum(_comm(int(d[6:])) == "java" for d in glob.glob("/proc/[0-9]*"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_1m": os.getloadavg()[0], "other_jvms": jvms}


def since_process_start() -> float:
    """Seconds since this process was created, interpreter start-up
    included (the kernel stamps the start in 10 ms clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[1])


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in glob.glob("/proc/[0-9]*"):
        try:
            pid = int(d[6:])
            children.setdefault(_ppid(pid), []).append(pid)
        except (OSError, ValueError):
            pass
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process's descendants, sampled every
    100 ms while ``on`` is set: the driver JVM on its own, and the Python
    workers it forks summed."""

    def __init__(self):
        self.jvm_peak_kb = 0
        self.workers_peak_kb = 0
        self.on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.1):
            if self.on.is_set():
                jvm = workers = 0
                for pid in _descendants(me):
                    if _comm(pid) == "java":
                        jvm = max(jvm, _rss_kb(pid))
                    else:
                        workers += _rss_kb(pid)
                self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)
                self.workers_peak_kb = max(self.workers_peak_kb, workers)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def fresh_session(tracer, master: str | None = None):
    """Stop the active session, if any, and build a new one with the
    engine's ``get_spark``."""
    from pyspark.sql import SparkSession

    from kafka_dead_letter_analyzer_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        for q in active.streams.active:
            q.stop()
        active.stop()
    with tracer.span("session.get_spark"):
        return get_spark(app_name="perfbench", master=master)


def shutdown_jvm() -> None:
    """Stop the session and the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        for q in active.streams.active:
            q.stop()
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM must still be ended
            proc.kill()
            proc.wait(timeout=10)


def rest(spark, path: str):
    """GET ``/api/v1/applications/<app>/<path>`` from this session's UI."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def shuffle_write_bytes(spark) -> int:
    return sum(s.get("shuffleWriteBytes", 0) for s in rest(spark, "stages"))


def batch_files(query_ck: str, index: dict[str, int]) -> dict[int, list[int]]:
    """Micro-batch id -> indices of the input files it read, from the file
    source's log in the query's checkpoint (compacted entries included)."""
    out: dict[int, list[int]] = {}
    for path in glob.glob(os.path.join(query_ck, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], []).append(
                        index[os.path.basename(e["path"])]
                    )
    return {b: sorted(set(fs)) for b, fs in out.items()}


def prefix_runs(raw, records: int, wire: bool) -> dict:
    """Batch jobs over the workload's input, each one layer longer, written
    to ``noop``: source, then + decode (Kafka-wire input only), then
    + ``stream_dead_letters``, then + ``enrich_with_context``. A layer's
    self time is its job's time minus the shorter job's."""
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.operators.enrich import enrich_with_context
    from kafka_dead_letter_analyzer_spark.operators.errors import split_errors
    from kafka_dead_letter_analyzer_spark.plans.topology import stream_dead_letters
    from kafka_dead_letter_analyzer_spark.streaming.kafka import decode_kafka_records

    def timed(df) -> float:
        best = float("inf")
        for _ in range(2):  # the faster of two: the deltas are small
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t)
        return best

    def framed(col: str):
        return ((F.length(col) > 5)
                & (F.substring(col, 1, 1) == F.lit(b"\x00"))).cast("int")

    t_scan = timed(raw)
    decoded, t_decode, share = raw, t_scan, 0.0
    if wire:
        decoded = decode_kafka_records(raw)
        t_decode = timed(decoded)
        n = raw.select((framed("key") + framed("value")).alias("n")).agg(F.sum("n"))
        share = n.first()[0] / (2 * records)
    dead_letters, conversion_errors = stream_dead_letters(decoded)
    t_route = timed(dead_letters)
    enriched_all = enrich_with_context(dead_letters)
    t_enrich = timed(enriched_all)
    return {
        "sources.scan_s": t_scan,
        "streaming.kafka.decode_self_s": t_decode - t_scan,
        "streaming.kafka.avro_tier_share": share,
        "plans.topology.route_self_s": t_route - t_decode,
        "plans.topology.dead_letters_per_record": dead_letters.count() / records,
        "plans.topology.conversion_errors": conversion_errors.count(),
        "operators.enrich.self_s": t_enrich - t_route,
        "operators.enrich.analysis_errors": split_errors(enriched_all)[1].count(),
    }
