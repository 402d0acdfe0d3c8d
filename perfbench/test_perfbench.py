"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

They need no JVM: the generator and checker are plain Python, and metric
names are read from the runner's sources.
"""

from __future__ import annotations

import ast
import copy
import hashlib
import json
import os

import pytest

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = gen.Spec(
    records=400, files=3,
    dialects={"avro": 1, "streams": 1, "connect": 1, "native": 1},
    topics=3, types=20, frames=5, malformed=0.05, null_trace=0.05,
    span_ms=86_400_000, wire=True,
)


def _digest(out_dir: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(out_dir):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("wire", [True, False])
def test_generator_is_byte_identical_per_seed(tmp_path, wire):
    spec = gen.Spec(**{**SMALL.__dict__, "wire": wire})
    gen.write(spec, 7, str(tmp_path / "a"))
    gen.write(spec, 7, str(tmp_path / "b"))
    gen.write(spec, 8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / d)) for d in "abc")
    assert len(a) == spec.files + 1
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_truth_covers_every_record():
    _, truth = gen.generate(SMALL, 3)
    dropped = SMALL.records - len(truth["full"]) - sum(truth["errors"].values())
    # only truncated Avro frames vanish; every other record has an effect
    assert 0 <= dropped < SMALL.records * SMALL.malformed * 3
    assert sum(s["count"] for s in truth["stats"].values()) == len(truth["full"])
    assert truth["examples"].keys() == truth["stats"].keys()
    per_file = truth["per_file"]
    assert sum(p["full"] for p in per_file) == len(truth["full"])
    assert sum(p["new_keys"] for p in per_file) == len(truth["stats"])


def _as_outputs(truth: dict) -> dict:
    return {k: copy.deepcopy(truth[k]) for k in ("full", "stats", "examples", "errors")}


def test_checker_accepts_the_truth_and_flags_a_corrupted_stats_row():
    _, truth = gen.generate(SMALL, 5)
    got = _as_outputs(truth)
    assert check.compare_outputs(truth, got) == (0, [])
    key = next(iter(got["stats"]))
    got["stats"][key]["count"] += 1
    bad, notes = check.compare_outputs(truth, got)
    assert bad == 1 and key in notes[0]


def test_checker_flags_missing_and_extra_rows():
    _, truth = gen.generate(SMALL, 5)
    got = _as_outputs(truth)
    got["full"].pop(next(iter(got["full"])))
    got["errors"][json.dumps(["k", "d", "c", "m"])] = 2
    assert check.compare_outputs(truth, got)[0] == 3


def test_checker_flags_a_wrong_micro_batch_row_count():
    _, truth = gen.generate(SMALL, 5)
    files = list(range(SMALL.files))
    want = check.expected_batch_rows(truth, files)
    good = {q: [(files, n)] for q, n in want.items()}
    assert check.compare_batch_rows(truth, good) == (0, [])
    split = {q: [([0], check.expected_batch_rows(truth, [0])[q]),
                 ([1, 2], check.expected_batch_rows(truth, [1, 2])[q])] for q in want}
    assert check.compare_batch_rows(truth, split)[0] == 0
    good["stats"] = [(files, want["stats"] - 1)]
    assert check.compare_batch_rows(truth, good)[0] == 1


def _declared() -> tuple[set, set]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"] for m in b["end_to_end"]}, {m["name"] for m in b["per_layer"]}


def _literal_metric_keys(module: str, prefixes: tuple[str, ...]) -> set[str]:
    """String keys stored into dicts in a module's source."""
    with open(os.path.join(HERE, module)) as f:
        tree = ast.parse(f.read())
    keys = set()
    for node in ast.walk(tree):
        cands = []
        if isinstance(node, ast.Dict):
            cands = node.keys
        elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store):
            cands = [node.slice]
        for k in cands:
            if isinstance(k, ast.Constant) and isinstance(k.value, str):
                if k.value.startswith(prefixes):
                    keys.add(k.value)
    return keys


LAYER_PREFIXES = ("session.", "sources.", "streaming.", "plans.", "operators.",
                  "cli.", "bench.", "scaling.")


@pytest.mark.parametrize("module", ["stream_backlog.py", "batch_backfill.py",
                                    "harness.py", "run.py"])
def test_every_printed_metric_is_declared(module):
    e2e, layer = _declared()
    assert _literal_metric_keys(module, LAYER_PREFIXES) <= layer
    found_e2e = _literal_metric_keys(module, tuple(e2e))
    assert found_e2e <= e2e
    if module in ("stream_backlog.py", "batch_backfill.py"):
        assert found_e2e == e2e


@pytest.mark.parametrize("module", ["stream_backlog", "batch_backfill"])
def test_off_path_names_only_layers_the_workload_skips(module):
    mod = pytest.importorskip(module)
    _, layer = _declared()
    for prefix in mod.OFF_PATH:
        assert any(n.startswith(prefix) for n in layer), prefix
    written = _literal_metric_keys(f"{module}.py", LAYER_PREFIXES)
    assert not any(k.startswith(mod.OFF_PATH) for k in written)


def test_query_layer_names_are_declared():
    stream_backlog = pytest.importorskip("stream_backlog")
    progress = {
        name: [{"batchId": 0, "numInputRows": 5, "durationMs": {"addBatch": 3},
                "sink": {"numOutputRows": 2},
                "stateOperators": [{"numRowsTotal": 1}]}]
        for name, _, _ in stream_backlog.OUTPUTS
    }
    _, layer = _declared()
    assert set(stream_backlog._query_layers(progress)) <= layer
