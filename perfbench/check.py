"""Compare the analyzer's outputs with the generator's ground truth.

Outputs are first normalised to plain Python values:

- ``full``: kafka key -> error type
- ``stats``: stats key -> ``{"count", "created", "updated"}``
- ``examples``: stats key -> ``[record key, offset, partition, timestamp,
  description]``
- ``errors``: ``json.dumps([record key, description, error class,
  message])`` -> number of rows

Each function returns the number of mismatching items and a few of them
for the error report.
"""

from __future__ import annotations

from collections import Counter


def diff_maps(name: str, want: dict, got: dict, out: list) -> int:
    bad = 0
    for k, v in want.items():
        if k not in got:
            bad += 1
            if len(out) < 10:
                out.append(f"{name}: missing {k!r}")
        elif got[k] != v:
            bad += 1
            if len(out) < 10:
                out.append(f"{name}: {k!r} is {got[k]!r}, expected {v!r}")
    for k in got.keys() - want.keys():
        bad += 1
        if len(out) < 10:
            out.append(f"{name}: unexpected {k!r}")
    return bad


def compare_outputs(truth: dict, got: dict) -> tuple[int, list[str]]:
    """Content check of all four outputs; returns (mismatches, examples)."""
    notes: list[str] = []
    bad = diff_maps("full", truth["full"], got["full"], notes)
    bad += diff_maps("stats", truth["stats"], got["stats"], notes)
    bad += diff_maps("examples", truth["examples"], got["examples"], notes)
    want_err, got_err = Counter(truth["errors"]), Counter(got["errors"])
    for k in want_err.keys() | got_err.keys():
        d = abs(want_err[k] - got_err[k])
        if d:
            bad += d
            if len(notes) < 10:
                notes.append(f"errors: {k} x{got_err[k]}, expected x{want_err[k]}")
    return bad, notes


def expected_batch_rows(truth: dict, files: list[int]) -> dict[str, int]:
    """Rows each streaming query must emit for a micro-batch made of
    ``files`` (indices into the file list), given that earlier batches
    hold earlier files: ``full`` and ``errors`` one per record, ``stats``
    one per key present (update mode), ``examples`` one per key seen for
    the first time."""
    pf = truth["per_file"]
    keys = set()
    for f in files:
        keys.update(pf[f]["keys"])
    return {
        "full": sum(pf[f]["full"] for f in files),
        "stats": len(keys),
        "examples": sum(pf[f]["new_keys"] for f in files),
        "errors": sum(pf[f]["errors"] for f in files),
    }


def compare_batch_rows(truth: dict, batches: dict[str, list[tuple[list[int], int]]]
                       ) -> tuple[int, list[str]]:
    """``batches[query]`` lists ``(files, numOutputRows)`` per micro-batch
    that read data; checks each against :func:`expected_batch_rows`."""
    bad, notes = 0, []
    n_files = len(truth["per_file"])
    for query, rows in batches.items():
        seen = sorted(f for files, _ in rows for f in files)
        if seen != list(range(n_files)):
            bad += 1
            notes.append(f"{query}: read files {seen}, expected all {n_files}")
        for files, got in rows:
            want = expected_batch_rows(truth, files)[query]
            if got != want:
                bad += abs(got - want)
                if len(notes) < 10:
                    notes.append(f"{query}: batch of files {files} wrote {got} rows, "
                                 f"expected {want}")
    return bad, notes
