"""Benchmark runner: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, from the root of a checkout.

Generates the workload's inputs from the seed, drives the analyzer through
its public entry points, checks the outputs against the generator's ground
truth and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer ones, and the spans are written to
``.perfbench_work/spans-<workload>-<seed>.json``.

Exits non-zero, printing no result, when the analyzer package is missing
or any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import harness

WORKLOADS = ("stream_avro_backlog", "batch_backfill")


def _declared() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.ROOT, "kafka_dead_letter_analyzer_spark")):
        print("perfbench: the analyzer package is not in this checkout", file=sys.stderr)
        return 2
    declared = _declared()
    names = declared["per_layer"] if a.trace else declared["end_to_end"]
    units = {m["name"]: m["unit"] for m in names}

    base = os.path.join(harness.ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    env = harness.host_info()
    harness.pin_env(work, ui=bool(a.trace))
    # the workload modules import pyspark: only after the pinned environment
    if a.workload == "stream_avro_backlog":
        import stream_backlog as workload
    else:
        import batch_backfill as workload

    rss = harness.RssSampler()
    steal0, total0 = harness.cpu_ticks()
    t0 = time.perf_counter()
    try:
        attempted, failed, notes, e2e, layer, tracer, env["rounds"] = workload.run(
            work, a.seed, a.seconds, bool(a.trace), rss)
    finally:
        rss.close()
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    env["wall_s"] = time.perf_counter() - t0
    steal1, total1 = harness.cpu_ticks()
    env["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    if a.trace:
        layer["bench.failed_share"] = failed / attempted
        tracer.write(os.path.join(base, f"spans-{a.workload}-{a.seed}.json"))
    produced = layer if a.trace else e2e
    # declared layers off this workload's path did no work here and read 0
    off_path = {n for n in units if a.trace and n.startswith(workload.OFF_PATH)}
    undeclared = set(produced) - set(units)
    missing = set(units) - set(produced) - off_path
    if undeclared or missing:
        raise RuntimeError("metrics differ from BENCHMARK.json: undeclared "
                           f"{sorted(undeclared)}, missing {sorted(missing)}")
    metrics = {n: float(produced.get(n, 0)) for n in units}
    print(json.dumps({"env": env, "notes": notes}))
    if failed:
        print(f"perfbench: {failed} of {attempted} outputs wrong: {notes}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
